package graft.sources

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.streaming.SerializedOffset
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** End-to-end streaming over the push-based source: files announced
  * through the in-memory queue, read via `readStream.format("graft-files")`,
  * checked through a memory sink. Covers the reference IT suite's core
  * scenarios (S3ConnectorSourceItSuite) hermetically: load + select/where,
  * duplicate-announcement dedup, maxFilesPerTrigger batching, glob filter,
  * partitioned dirs, checkpoint restart without reprocessing.
  */
class GraftFileSourceE2ESpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-e2e")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("name", StringType)))

  private var qSeq = 0
  private def freshQueue(): (String, InMemoryQueue) = {
    qSeq += 1
    val name = s"e2e-q$qSeq-${System.nanoTime()}"
    (name, InMemoryQueueRegistry.queue(name))
  }

  private def writeJson(dir: JPath, name: String, rows: Seq[(Int, String)]): String = {
    val f = dir.resolve(name)
    val content = rows.map { case (i, n) => s"""{"id":$i,"name":"$n"}""" }.mkString("\n")
    Files.write(f, content.getBytes("UTF-8"))
    "file:" + f.toString
  }

  private def announce(q: InMemoryQueue, path: String, ts: Long = System.currentTimeMillis()): Unit =
    q.send(s"""{"path":"$path","timestampMs":$ts}""")

  private def streamDF(queueName: String, extra: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.readStream.format("graft-files").schema(schema)
      .option("fileFormat", "json")
      .option("queueName", queueName)
      .option("queueFetchWaitTimeoutSeconds", "5")
    extra.foreach { case (k, v) => r.option(k, v) }
    r.load()
  }

  private def runToMemory(df: DataFrame, name: String, checkpoint: Option[String] = None): Unit = {
    val w = df.writeStream.format("memory").queryName(name).outputMode("append")
    checkpoint.foreach(w.option("checkpointLocation", _))
    val q = w.start()
    try q.processAllAvailable() finally q.stop()
  }

  test("t1 slice: announced json files answer a select/where streaming query") {
    val (qn, q) = freshQueue()
    val dir = tempDir("graft-e2e")
    announce(q, writeJson(dir, "a.json", Seq(1 -> "james", 2 -> "michael")))
    announce(q, writeJson(dir, "b.json", Seq(3 -> "robert", 4 -> "maria")))
    val df = streamDF(qn).where("id >= 2").select("name", "id")
    runToMemory(df, "t1out")
    val got = spark.table("t1out").collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
    assert(got == Seq(("maria", 4), ("michael", 2), ("robert", 3)))
  }

  test("exactly-once: duplicate announcements of the same path load once") {
    val (qn, q) = freshQueue()
    val dir = tempDir("graft-e2e")
    val p = writeJson(dir, "dup.json", Seq(1 -> "x"))
    announce(q, p); announce(q, p); announce(q, p)
    announce(q, writeJson(dir, "other.json", Seq(2 -> "y")))
    runToMemory(streamDF(qn), "dedupout")
    assert(spark.table("dedupout").count() == 2)
  }

  test("maxFilesPerTrigger bounds each micro-batch") {
    val (qn, q) = freshQueue()
    val dir = tempDir("graft-e2e")
    (1 to 5).foreach(i => announce(q, writeJson(dir, s"f$i.json", Seq(i -> s"n$i"))))
    val df = streamDF(qn, Map("maxFilesPerTrigger" -> "2"))
    val query = df.writeStream.format("memory").queryName("mfptout").outputMode("append").start()
    try query.processAllAvailable() finally query.stop()
    assert(spark.table("mfptout").count() == 5)
    // 5 files at <=2 per trigger needs >= 3 batches
    assert(query.recentProgress.count(_.numInputRows > 0) >= 3)
  }

  test("pathGlobFilter rejects non-matching announcements") {
    val (qn, q) = freshQueue()
    val dir = tempDir("graft-e2e")
    announce(q, writeJson(dir, "keep.json", Seq(1 -> "keep")))
    announce(q, writeJson(dir, "skip.txt", Seq(2 -> "skip")))
    runToMemory(streamDF(qn, Map("pathGlobFilter" -> "*.json")), "globout")
    val names = spark.table("globout").collect().map(_.getString(1)).toSet
    assert(names == Set("keep"))
  }

  test("hive-partitioned dirs surface partition columns in rows") {
    val (qn, q) = freshQueue()
    val dir = tempDir("graft-e2e")
    val p1 = dir.resolve("pcol=a"); val p2 = dir.resolve("pcol=b")
    Files.createDirectories(p1); Files.createDirectories(p2)
    announce(q, writeJson(p1, "x.json", Seq(1 -> "one")))
    announce(q, writeJson(p2, "y.json", Seq(2 -> "two")))
    val pschema = schema.add(StructField("pcol", StringType))
    val df = spark.readStream.format("graft-files").schema(pschema)
      .option("fileFormat", "json").option("queueName", qn)
      .option("partitionColumns", "pcol")
      .option("basePath", "file:" + dir.toString)
      .load()
    runToMemory(df, "partout")
    val got = spark.table("partout").collect()
      .map(r => (r.getInt(0), r.getString(2))).sorted.toSeq
    assert(got == Seq(1 -> "a", 2 -> "b"))
  }

  test("checkpoint restart: committed batches are not re-read; dedup survives restart") {
    val (qn, q) = freshQueue()
    val dir = tempDir("graft-e2e")
    val ckpt = tempDir("graft-ckpt").toString
    val out = tempDir("graft-out").toString
    def runOnce(): Unit = {
      val query = streamDF(qn).writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try query.processAllAvailable() finally query.stop()
    }
    val p1 = writeJson(dir, "r1.json", Seq(1 -> "first"))
    announce(q, p1)
    runOnce()
    assert(spark.read.parquet(out).count() == 1)

    // second run, same checkpoint: re-announce old file + one new file
    announce(q, p1) // must be deduped via the persistent metadata log
    val p2 = writeJson(dir, "r2.json", Seq(2 -> "second"))
    announce(q, p2)
    runOnce()
    val names = spark.read.parquet(out).collect().map(_.getString(1)).sorted.toSeq
    assert(names == Seq("first", "second"))
  }

  test("csv format options pass through (header, custom sep)") {
    val (qn, q) = freshQueue()
    val dir = tempDir("graft-e2e")
    val f = dir.resolve("c.csv")
    Files.write(f, "id|name\n7|seven\n8|eight\n".getBytes("UTF-8"))
    announce(q, "file:" + f.toString)
    val df = spark.readStream.format("graft-files").schema(schema)
      .option("fileFormat", "csv").option("queueName", qn)
      .option("header", "true").option("sep", "|")
      .load()
    runToMemory(df, "csvout")
    val got = spark.table("csvout").collect().map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
    assert(got == Seq(7 -> "seven", 8 -> "eight"))
  }

  test("Trigger.AvailableNow drains the announced backlog and terminates") {
    import org.apache.spark.sql.streaming.Trigger
    val (qn, q) = freshQueue()
    val dir = tempDir("graft-e2e")
    (1 to 3).foreach(i => announce(q, writeJson(dir, s"t$i.json", Seq(i -> s"v$i"))))
    val query = streamDF(qn, Map("maxFilesPerTrigger" -> "1"))
      .writeStream.format("memory").queryName("avnow").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    assert(query.awaitTermination(60000), "AvailableNow query did not self-terminate")
    assert(spark.table("avnow").count() == 3)
    // latestOffset path: 3 files at maxFilesPerTrigger=1 must drain in >= 3
    // chunks (the wrapper must not pin the end offset at the first batch)
    assert(query.recentProgress.count(_.numInputRows > 0) >= 3,
      s"expected a multi-chunk drain, got ${query.recentProgress.length} progress events")
    val m = query.recentProgress.filter(_.numInputRows > 0).last.sources(0).metrics
    assert(m.get("phase.drainMs").toLong >= 0 && m.get("phase.ackWaitMs").toLong >= 0, s"$m")
  }

  /** Drains `qn` with one AvailableNow query at 2 files per trigger into a
    * parquet sink at `out`, checkpointed at `ckpt`. */
  private def drainToParquet(qn: String, out: String, ckpt: String,
      extra: Map[String, String] = Map.empty): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val query = streamDF(qn, Map("maxFilesPerTrigger" -> "2") ++ extra)
      .writeStream.format("parquet").option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    assert(query.awaitTermination(60000), "AvailableNow query did not self-terminate")
  }

  test("exactly-once with acks in flight: stop before the last batch's deletes land, restart") {
    val (qn, q) = freshQueue()
    val dir = tempDir("graft-e2e")
    val out = tempDir("graft-out").toString
    val ckpt = tempDir("graft-ckpt").toString
    val gate = new CountDownLatch(1)
    val wire = new CountingQueue(q, holdDeletes = Some(gate)) // batch deletes wait for the gate
    InMemoryQueueRegistry.interpose(qn, wire)
    try {
      (1 to 4).foreach(i => announce(q, writeJson(dir, s"h$i.json", Seq(i -> s"h$i"))))
      val lease = Map("queue.visibilityTimeoutSeconds" -> "1")
      drainToParquet(qn, out, ckpt, lease)
      // both batches are in the sink, but the stop outwaited their deletes
      assert(spark.read.parquet(out).count() == 4)
      assert(wire.spans("deleteBatch").isEmpty && q.approximateSize == 4)

      Thread.sleep(1100) // every lease has lapsed: all four messages redeliver
      drainToParquet(qn, out, ckpt, lease)
      val ids = spark.read.parquet(out).collect().map(_.getInt(0)).sorted.toSeq
      assert(ids == Seq(1, 2, 3, 4), "each file is in the sink once")
      // the restarted source found every redelivered file in its log and
      // dropped it with a single delete
      assert(wire.spans("delete").size == 4)
      assert(q.approximateSize == 0)
    } finally {
      gate.countDown()
      InMemoryQueueRegistry.remove(qn)
    }
  }

  test("exactly-once with acks in flight: the per-message fallback acks in the background") {
    val (qn, q) = freshQueue()
    val dir = tempDir("graft-e2e")
    val out = tempDir("graft-out").toString
    val ckpt = tempDir("graft-ckpt").toString
    q.failBatchDeletes = true
    try {
      val paths = (1 to 4).map(i => writeJson(dir, s"b$i.json", Seq(i -> s"b$i")))
      paths.foreach(announce(q, _))
      drainToParquet(qn, out, ckpt)
      // every batch delete failed; the fallback's single deletes landed
      // before the query returned
      assert(q.approximateSize == 0)

      // restart: two logged files announced again, and one new file
      announce(q, paths(0))
      announce(q, paths(3))
      announce(q, writeJson(dir, "b5.json", Seq(5 -> "b5")))
      drainToParquet(qn, out, ckpt)
      val ids = spark.read.parquet(out).collect().map(_.getInt(0)).sorted.toSeq
      assert(ids == Seq(1, 2, 3, 4, 5), "each file is in the sink once")
      assert(q.approximateSize == 0)
    } finally q.failBatchDeletes = false
  }

  test("AvailableNow on a dead queue fails the query, never reports a clean drain") {
    import org.apache.spark.sql.streaming.Trigger
    val (qn, q) = freshQueue()
    q.failReceives = true
    val query = streamDF(qn, Map("queue.fetchErrorBudget" -> "2"))
      .writeStream.format("memory").queryName("deadq").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    val e = intercept[Exception] { query.awaitTermination(60000) }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("consecutive queue receive failures")),
      s"expected the error-budget failure, got: ${messages(e).mkString(" | ")}")
  }

  test("AvailableNow drain backs off between failing rounds (no busy-spin)") {
    val (qn, q) = freshQueue()
    q.failReceives = true
    val src = new GraftFileSource(spark.sqlContext,
      tempDir("graft-backoff").toString, schema,
      Map("fileformat" -> "json", "queuename" -> qn,
        "queuefetchwaittimeoutseconds" -> "5", "queue.fetcherrorbudget" -> "3"))
    val t0 = System.nanoTime()
    val e = intercept[GraftSourceException](src.prepareForTriggerAvailableNow())
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(e.getMessage.contains("AvailableNow drain"))
    // budget 3 => two sleeps before the third failing round throws:
    // 200ms + 400ms of backoff, so a well-behaved loop takes >= ~600ms and
    // a busy-spinning one would finish in single-digit ms
    assert(elapsedMs >= 550, s"expected backoff between retries, drained in ${elapsedMs}ms")
    assert(elapsedMs < 30000)
    src.stop()
  }

  test("getBatch decodes a recovered offset in both serialized forms") {
    val (qn, q) = freshQueue()
    val file = writeJson(tempDir("graft-e2e"), "a.json", Seq(1 -> "x"))
    announce(q, file)
    val src = new GraftFileSource(spark.sqlContext,
      tempDir("graft-offsets").toString, schema,
      Map("fileformat" -> "json", "queuename" -> qn, "queuefetchwaittimeoutseconds" -> "5"))
    try {
      src.prepareForTriggerAvailableNow()
      assert(src.getOffset.map(_.json) == Some("""{"logOffset":0}"""))
      // a restarted query hands getBatch the offset as read back from the
      // offset log: the JSON form, or the plain long of older checkpoints
      for (json <- Seq("""{"logOffset":0}""", "0")) {
        val files = src.getBatch(None, SerializedOffset(json)).queryExecution.analyzed
          .collect { case l: LogicalRelation => l.relation }
          .flatMap { case r: HadoopFsRelation => r.location.inputFiles.toSeq }
        assert(files.map(new org.apache.hadoop.fs.Path(_).getName) == Seq("a.json"), json)
      }
    } finally src.stop()
  }

  test("a checkpoint left by the removed RocksDB log fails construction instead of restoring empty") {
    val (qn, _) = freshQueue()
    val metadataPath = tempDir("graft-legacy-rocksdb")
    Files.createDirectories(metadataPath.resolve("rocksdb").resolve("SSTs"))
    val e = intercept[GraftSourceException](new GraftFileSource(spark.sqlContext,
      metadataPath.toString, schema, Map("fileformat" -> "json", "queuename" -> qn)))
    assert(e.getMessage.contains("rocksdb/") && e.getMessage.contains("removed"), e.getMessage)
    assert(!Files.exists(metadataPath.resolve("graft-batches")),
      "the check must run before the file log is built")
  }

  test("orc and text file formats stream through the same source") {
    import spark.implicits._
    // orc
    val (qn1, q1) = freshQueue()
    val dir = tempDir("graft-e2e")
    val orcDir = dir.resolve("orc").toString
    Seq((1, "o1"), (2, "o2")).toDF("id", "name").coalesce(1).write.orc(orcDir)
    new java.io.File(orcDir).listFiles().filter(_.getName.endsWith(".orc"))
      .foreach(f => announce(q1, "file:" + f.getAbsolutePath))
    val orcDf = spark.readStream.format("graft-files").schema(schema)
      .option("fileFormat", "orc").option("queueName", qn1).load()
    runToMemory(orcDf, "orcout")
    assert(spark.table("orcout").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    // text (single value column)
    val (qn2, q2) = freshQueue()
    val txt = dir.resolve("t.txt")
    Files.write(txt, "hello\nworld\n".getBytes("UTF-8"))
    announce(q2, "file:" + txt.toString)
    val textSchema = StructType(Seq(StructField("value", StringType)))
    val textDf = spark.readStream.format("graft-files").schema(textSchema)
      .option("fileFormat", "text").option("queueName", qn2).load()
    runToMemory(textDf, "textout")
    assert(spark.table("textout").collect().map(_.getString(0)).sorted.toSeq == Seq("hello", "world"))
  }

  test("csv schema mismatch: permissive null-fill vs DROPMALFORMED empty (reference A4)") {
    val (qn1, q1) = freshQueue()
    val dir = tempDir("graft-e2e")
    val f = dir.resolve("mism.csv")
    Files.write(f, "james,true,3000\nmichael,false,5000\n".getBytes("UTF-8"))
    val intOnly = StructType(Seq(StructField("testInt", IntegerType)))
    announce(q1, "file:" + f.toString)
    val permissive = spark.readStream.format("graft-files").schema(intOnly)
      .option("fileFormat", "csv").option("queueName", qn1).load()
    runToMemory(permissive, "mismout")
    val got = spark.table("mismout").collect()
    assert(got.length == 2 && got.forall(_.isNullAt(0))) // null-fill rows

    val (qn2, q2) = freshQueue()
    announce(q2, "file:" + f.toString)
    val dropping = spark.readStream.format("graft-files").schema(intOnly)
      .option("fileFormat", "csv").option("queueName", qn2)
      .option("mode", "DROPMALFORMED").load()
    runToMemory(dropping, "dropout")
    assert(spark.table("dropout").count() == 0)
  }

  test("maxFileAge: announcements older than the horizon are rejected") {
    val (qn, q) = freshQueue()
    val dir = tempDir("graft-e2e")
    val now = System.currentTimeMillis()
    // fresh file first establishes the high-water mark, then an ancient one
    announce(q, writeJson(dir, "fresh.json", Seq(1 -> "fresh")), ts = now)
    announce(q, writeJson(dir, "stale.json", Seq(2 -> "stale")), ts = now - 3600_000L)
    val df = streamDF(qn, Map("maxFileAge" -> "10m"))
    runToMemory(df, "ageout")
    val names = spark.table("ageout").collect().map(_.getString(1)).toSeq
    assert(names == Seq("fresh")) // FileExpired verdict dropped the stale one
  }

  test("queue + metadata-log metrics surface through StreamingQueryProgress") {
    val (qn, q) = freshQueue()
    val dir = tempDir("graft-e2e")
    announce(q, writeJson(dir, "m1.json", Seq(1 -> "ada")))
    announce(q, writeJson(dir, "m2.json", Seq(2 -> "grace")))
    val query = streamDF(qn).writeStream.format("memory").queryName("metricsout")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      // the LAST progress may be an empty no-data trigger; find one that
      // moved rows, then assert the source-metrics map on it
      val progs = query.recentProgress
      assert(progs.nonEmpty, "no progress recorded")
      val withRows = progs.filter(_.numInputRows > 0)
      assert(withRows.nonEmpty, s"no data-carrying trigger among ${progs.length} progresses")
      val m = withRows.last.sources.head.metrics
      assert(m.get("queue.receiveMessage").toLong >= 2,
        s"queue counters missing from progress metrics: $m")
      assert(m.get("queue.parseMessage").toLong >= 2, s"$m")
      assert(m.containsKey("queue.fetchThreadUncaughtException"),
        s"all 14 queue counters must be present: $m")
      assert(m.keySet().stream().filter(_.startsWith("queue.")).count() == 14, s"$m")
      assert(m.get("log.batches") != null && m.get("log.batches").toLong >= 1,
        s"metadata-log metrics missing from progress metrics: $m")
      // both files are logged by the last data trigger: none is pending
      assert(m.get("pendingFiles") == "0", s"$m")
      // the source's own phases: no AvailableNow drain ran, and the ack
      // waits are a non-negative total
      assert(m.get("phase.drainMs") == "0", s"$m")
      assert(m.get("phase.ackWaitMs").toLong >= 0, s"$m")
      // the log write and the relation build are parts of the same
      // trigger's latestOffset and getBatch, as the engine timed them
      withRows.foreach { p =>
        val pm = p.sources.head.metrics
        val logAddMs = pm.get("phase.logAddMs").toLong
        val getBatchMs = pm.get("phase.getBatchMs").toLong
        assert(logAddMs >= 0 && logAddMs <= p.durationMs.get("latestOffset"), s"$pm ${p.durationMs}")
        assert(getBatchMs >= 0 && getBatchMs <= p.durationMs.get("getBatch"), s"$pm ${p.durationMs}")
      }
      // and the progress JSON an operator would ship carries them verbatim
      assert(withRows.last.json.contains("queue.receiveMessage"), withRows.last.json)
    } finally query.stop()
    assert(spark.table("metricsout").count() == 2)
  }

  test("schema is mandatory") {
    val (qn, _) = freshQueue()
    intercept[Exception] {
      spark.readStream.format("graft-files")
        .option("fileFormat", "json").option("queueName", qn).load()
    }
  }
}

package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.InMemoryQueueRegistry

/** Streaming-source queries for the correctness gate: each runs a real
  * micro-batch streaming query over the push-based `graft-files` source
  * (files announced through the in-memory queue), lands results in a
  * memory sink, and returns them as a DataFrame the DuckDB oracle can
  * check against the static `events` table.
  *
  * This makes the connector itself — offset arithmetic, admission,
  * dedup, batch materialization — a hash-checked operator, not just a
  * unit-tested component.
  */
object Streaming {
  private val seq = new AtomicInteger(0)

  /** Run `body` with the state shuffle sized to the micro-batch load.
    * Stateful streaming operators create one state store per shuffle
    * partition per batch; at this fixture scale 32 stores are pure
    * overhead (measured 2-3x on the stream gates), while at real scale
    * the same knob is sized UP to the key cardinality. The conf is read
    * at query start (fresh checkpoints here), and restored after so
    * batch queries keep the session default. */
  private[queries] def withStateShuffle[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** Run `body` with Spark's RocksDB state store as the state provider.
    * The conf is read at query start, so it is scoped to the body and
    * restored after. */
  private[queries] def withRocksDBStateStore[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Events subset written as parquet files (no text round-trip: the
    * streamed bytes are bit-identical to the source table's). */
  private val CUTOFF = 2000L

  /** Matches the current fixture generation: events.ts is parquet
    * timestamp[us] (TIMESTAMP_NTZ), so the staged re-write carries the
    * same physical type and the stream schema must declare it — r12's
    * LongType declaration silently read the micros as longs and every
    * event-time collapsed 1000x. Event-time columns derive via
    * [[Streaming.eventTs]] (UTC session zone makes the NTZ->TZ cast the
    * identity on the stored micros). */
  private[queries] val eventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Streamed `ts` as a watermarkable TimestampType column (exact: UTC
    * session zone pinned by every entry point). */
  private[queries] def eventTs = col("ts").cast(TimestampType)

  /** The events table with `ts` NORMALIZED to TIMESTAMP_NTZ micros at
    * the stage boundary, whatever generation the fixture is
    * ([[Tables.tsUs]] dispatches) — so the staged parquet always matches
    * [[eventsSchema]] and a future fixture regeneration cannot silently
    * desynchronize the streaming gates again. For the current
    * timestamp[us] fixtures the cast chain is the identity. */
  private[queries] def eventsNtz(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    ev.withColumn("ts", timestamp_micros(Tables.tsUs(ev)).cast(TimestampNTZType))
  }

  /** Year-2100 sentinel event (one row, TIMESTAMP_NTZ like the staged
    * events files), staged once per user id through [[StageCache]]: a
    * later micro-batch announcing it pushes the watermark past every
    * real window. */
  private[queries] def sentinelEventsDir(s: SparkSession, gate: String,
      userId: Long): String =
    StageCache.dir(gate, s"sentinel-events|u=$userId", Seq.empty) { out =>
      import s.implicits._
      val sentinelTs = java.time.LocalDateTime.of(2100, 1, 1, 0, 0, 0)
      Seq((999999L, sentinelTs, userId, "sentinel", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(out)
    }

  /** The `events < 500` slice staged TWICE under one fixture key — one
    * Spark write into `a/`, a filesystem copy into `b/` (duplicates must
    * arrive from distinct paths so file-level admission cannot collapse
    * them; the copy replaces what was a second identical Spark write).
    * The `_SUCCESS` marker commits only after both are complete. */
  private def dualEventsDir(s: SparkSession, dir: String, gate: String): String =
    StageCache.dir(gate, s"$dir|events|lt500|coalesce1|dual",
        Seq(s"$dir/events.parquet")) { out =>
      eventsNtz(s, dir).filter(col("event_id") < 500)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/a")
      StageCache.copyParquet(s"$out/a", s"$out/b")
      java.nio.file.Files.createFile(java.nio.file.Paths.get(out, "_SUCCESS"))
    }

  /** Write the events subset as N parquet files, announce them on a fresh
    * queue, and run the source to completion; returns the sink table name.
    * `gateName` keys the micro-batch plan captured for [[StreamPlans]]. */
  private def runStream(s: SparkSession, dir: String, gateName: String, nFiles: Int,
      transform: DataFrame => DataFrame, extraOptions: Map[String, String] = Map.empty): String = {
    val runId = s"stream${seq.incrementAndGet()}_${System.nanoTime()}"
    val stage = StageCache.dir(gateName,
        s"$dir|events|lt$CUTOFF|hash:$nFiles:event_id", Seq(s"$dir/events.parquet")) { out =>
      eventsNtz(s, dir)
        .filter(col("event_id") < CUTOFF)
        .repartition(nFiles, col("event_id"))
        .write.mode("overwrite").parquet(out)
    }

    val queue = InMemoryQueueRegistry.queue(runId)
    val files = new java.io.File(stage).listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    files.foreach { f =>
      queue.send(s"""{"path":"file:${f.getAbsolutePath}","timestampMs":${f.lastModified()}}""")
    }

    val reader = s.readStream.format("graft-files")
      .schema(eventsSchema)
      .option("fileFormat", "parquet")
      .option("queueName", runId)
      .option("queueFetchWaitTimeoutSeconds", "10")
    extraOptions.foreach { case (k, v) => reader.option(k, v) }
    val sinkName = s"sink_$runId"
    val query = transform(reader.load()).writeStream
      .format("memory").queryName(sinkName).outputMode("append").start()
    try {
      query.processAllAvailable()
      StreamPlans.capture(gateName, query)
    } finally query.stop()
    InMemoryQueueRegistry.remove(runId)
    sinkName
  }

  /** O4/O12/O13 e2e: every announced row arrives exactly once. Announces
    * 4 files with maxFilesPerTrigger=2 so the result spans >=2 micro-batch
    * offsets (exercising offset arithmetic, not just one getBatch). */
  def streamSourceRead(s: SparkSession, dir: String): DataFrame = {
    val sink = runStream(s, dir, "stream_source_read", nFiles = 4, transform = identity,
      extraOptions = Map("maxFilesPerTrigger" -> "2"))
    s.table(sink)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }
  val streamSourceReadSql: String =
    s"""SELECT event_id, user_id, event_type, value FROM events
       |WHERE event_id < $CUTOFF ORDER BY event_id""".stripMargin

  /** Duplicate announcements (each file announced twice) must not produce
    * duplicate rows — the exactly-once admission check as a query.
    * `stream_exactly_once` keeps the counting aggregate's state in the
    * default state store; `stream_exactly_once_rocksdb` is the SAME
    * pipeline with that state in Spark's RocksDB state store, so both
    * state backends carry a hash-green oracle row. */
  def streamExactlyOnce(s: SparkSession, dir: String): DataFrame =
    streamExactlyOnceOn(s, dir, "stream_exactly_once")
  def streamExactlyOnceRocksdb(s: SparkSession, dir: String): DataFrame =
    withRocksDBStateStore(s)(streamExactlyOnceOn(s, dir, "stream_exactly_once_rocksdb"))

  private def streamExactlyOnceOn(s: SparkSession, dir: String, gateName: String): DataFrame =
      withStateShuffle(s, 4) {
    val runId = s"dedup${seq.incrementAndGet()}_${System.nanoTime()}"
    val stage = StageCache.dir(gateName,
        s"$dir|events|lt$CUTOFF|hash:3:event_id", Seq(s"$dir/events.parquet")) { out =>
      eventsNtz(s, dir).filter(col("event_id") < CUTOFF)
        .repartition(3, col("event_id"))
        .write.mode("overwrite").parquet(out)
    }
    val queue = InMemoryQueueRegistry.queue(runId)
    val files = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    files.foreach { f => // announce every file twice
      val msg = s"""{"path":"file:${f.getAbsolutePath}","timestampMs":${f.lastModified()}}"""
      queue.send(msg); queue.send(msg)
    }
    val sinkName = s"sink_$runId"
    val query = s.readStream.format("graft-files").schema(eventsSchema)
      .option("fileFormat", "parquet").option("queueName", runId)
      .option("queueFetchWaitTimeoutSeconds", "10")
      .load()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(sinkName).outputMode("complete").start()
    try {
      query.processAllAvailable()
      StreamPlans.capture(gateName, query)
    } finally query.stop()
    InMemoryQueueRegistry.remove(runId)
    s.table(sinkName).orderBy(col("event_type"))
  }
  val streamExactlyOnceSql: String =
    s"""SELECT event_type, COUNT(*) AS n FROM events
       |WHERE event_id < $CUTOFF GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Event-time tumbling window + watermark over the streamed rows.
    * A far-future sentinel file (announced last, its own micro-batch via
    * maxFilesPerTrigger=1... see below) pushes the watermark past every
    * real window so append mode emits them; the sentinel's own window is
    * filtered out of the result. */
  def streamWindowAgg(s: SparkSession, dir: String): DataFrame = withStateShuffle(s, 4) {
    val runId = s"winagg${seq.incrementAndGet()}_${System.nanoTime()}"
    val stage = StageCache.dir("stream_window_agg",
        s"$dir|events|lt$CUTOFF|hash:2:event_id", Seq(s"$dir/events.parquet")) { out =>
      eventsNtz(s, dir).filter(col("event_id") < CUTOFF)
        .repartition(2, col("event_id")).write.mode("overwrite").parquet(out)
    }
    val sentStage = sentinelEventsDir(s, "stream_window_agg", userId = 0L)

    val queue = InMemoryQueueRegistry.queue(runId)
    def filesOf(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val nReal = filesOf(stage).length
    filesOf(stage).foreach(f =>
      queue.send(s"""{"path":"file:${f.getAbsolutePath}","timestampMs":1000}"""))
    filesOf(sentStage).foreach(f =>
      queue.send(s"""{"path":"file:${f.getAbsolutePath}","timestampMs":2000}"""))

    val sinkName = s"sink_$runId"
    // deterministic batching: wait for ALL announced files (real +
    // sentinel), then cut batch 1 = the oldest-timestamped real files and
    // batch 2 = the sentinel — a timing-dependent split would let the
    // sentinel advance the watermark past real rows still in flight
    val streamed = s.readStream.format("graft-files").schema(eventsSchema)
      .option("fileFormat", "parquet").option("queueName", runId)
      .option("queueFetchWaitTimeoutSeconds", "10")
      // real data first, sentinel in a later micro-batch, oldest-first
      .option("maxFilesPerTrigger", nReal.toString)
      .option("sortBatchByTimestamp", "true")
      .option("minFilesForFirstBatch", (nReal + 1).toString)
      .load()
      .withColumn("event_ts", eventTs)
      .withWatermark("event_ts", "1 minute")
      .groupBy(window(col("event_ts"), "1 hour"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double").as("total"))
    val query = streamed.writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      StreamPlans.capture("stream_window_agg", query)
    } finally query.stop()
    InMemoryQueueRegistry.remove(runId)
    s.table(sinkName)
      .filter(year(col("window.start")) < 2099) // drop the sentinel's window
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("n"), col("total"))
      .orderBy(col("win_start"))
  }
  val streamWindowAggSql: String =
    s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       |  COUNT(*) AS n,
       |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
       |FROM events WHERE event_id < $CUTOFF
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Row-level streaming dedup (`dropDuplicates` state across batches):
    * the same rows are staged in two separate files announced separately,
    * so duplicates span micro-batches and only the dedup state removes
    * them. Complements the connector's file-level exactly-once. */
  def streamDropDuplicates(s: SparkSession, dir: String): DataFrame = withStateShuffle(s, 4) {
    val runId = s"dropdup${seq.incrementAndGet()}_${System.nanoTime()}"
    val dual = dualEventsDir(s, dir, "stream_drop_duplicates")
    val stage1 = s"$dual/a"
    val stage2 = s"$dual/b" // same rows again, distinct paths
    val queue = InMemoryQueueRegistry.queue(runId)
    Seq(stage1, stage2).foreach { st =>
      new java.io.File(st).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => queue.send(
          s"""{"path":"file:${f.getAbsolutePath}","timestampMs":${f.lastModified()}}"""))
    }
    val sinkName = s"sink_$runId"
    val query = s.readStream.format("graft-files").schema(eventsSchema)
      .option("fileFormat", "parquet").option("queueName", runId)
      .option("queueFetchWaitTimeoutSeconds", "10")
      .option("maxFilesPerTrigger", "1") // duplicates arrive in a later batch
      .load()
      .dropDuplicates("event_id")
      .writeStream.format("memory").queryName(sinkName).outputMode("append").start()
    try {
      query.processAllAvailable()
      StreamPlans.capture("stream_drop_duplicates", query)
    } finally query.stop()
    InMemoryQueueRegistry.remove(runId)
    s.table(sinkName)
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy(col("event_id"))
  }
  val streamDropDuplicatesSql: String =
    """SELECT event_id, user_id, value FROM events
      |WHERE event_id < 500 ORDER BY event_id""".stripMargin

  /** Row-level streaming dedup with WATERMARK-BOUNDED state
    * (`dropDuplicatesWithinWatermark`) — the production form of
    * [[streamDropDuplicates]]: plain `dropDuplicates` keeps every key
    * seen FOREVER (state grows with the corpus — unrunnable at 100 TB),
    * while the within-watermark variant evicts state once the watermark
    * passes a key's event time, so state size tracks the out-of-orderness
    * window, not history. Duplicates here arrive in LATER micro-batches
    * (maxFilesPerTrigger=1) inside a wide watermark, so only the dedup
    * state — not late-row drop — removes them; output rows emit on first
    * sight (append mode), so the result is the distinct set regardless
    * of batch slicing. */
  def streamDedupWithinWatermark(s: SparkSession, dir: String): DataFrame =
      withStateShuffle(s, 4) {
    val runId = s"dedupww${seq.incrementAndGet()}_${System.nanoTime()}"
    val dual = dualEventsDir(s, dir, "stream_dedup_within_watermark")
    val stage1 = s"$dual/a"
    val stage2 = s"$dual/b" // same rows again, distinct paths
    val queue = InMemoryQueueRegistry.queue(runId)
    Seq(stage1, stage2).foreach { st =>
      new java.io.File(st).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => queue.send(
          s"""{"path":"file:${f.getAbsolutePath}","timestampMs":${f.lastModified()}}"""))
    }
    val sinkName = s"sink_$runId"
    val query = s.readStream.format("graft-files").schema(eventsSchema)
      .option("fileFormat", "parquet").option("queueName", runId)
      .option("queueFetchWaitTimeoutSeconds", "10")
      .option("maxFilesPerTrigger", "1") // duplicates arrive in a later batch
      .load()
      .withColumn("event_ts", eventTs)
      // wide enough that the fixture's whole event-time span stays inside
      // one watermark window: nothing is "late", so removal is genuinely
      // the dedup state's doing (the tight-watermark eviction path is
      // pinned in GraftStatefulStreamingSpec)
      .withWatermark("event_ts", "3650 days")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("memory").queryName(sinkName).outputMode("append").start()
    try {
      query.processAllAvailable()
      StreamPlans.capture("stream_dedup_within_watermark", query)
    } finally query.stop()
    InMemoryQueueRegistry.remove(runId)
    s.table(sinkName)
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy(col("event_id"))
  }
  val streamDedupWithinWatermarkSql: String =
    """SELECT event_id, user_id, value FROM events
      |WHERE event_id < 500 ORDER BY event_id""".stripMargin

  /** Stream-static join: streamed events enriched against the static
    * customer dim inside the micro-batch plan (broadcast per batch). */
  def streamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    val runId = s"ssjoin${seq.incrementAndGet()}_${System.nanoTime()}"
    val stage = StageCache.dir("stream_static_join",
        s"$dir|events|lt1000|hash:2:event_id", Seq(s"$dir/events.parquet")) { out =>
      eventsNtz(s, dir).filter(col("event_id") < 1000)
        .repartition(2, col("event_id"))
        .write.mode("overwrite").parquet(out)
    }
    val queue = InMemoryQueueRegistry.queue(runId)
    new java.io.File(stage).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => queue.send(
        s"""{"path":"file:${f.getAbsolutePath}","timestampMs":${f.lastModified()}}"""))
    val customers = broadcast(Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment")))
    val sinkName = s"sink_$runId"
    val query = s.readStream.format("graft-files").schema(eventsSchema)
      .option("fileFormat", "parquet").option("queueName", runId)
      .option("queueFetchWaitTimeoutSeconds", "10")
      .load()
      .join(customers, col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("c_name"), col("c_mktsegment"))
      .writeStream.format("memory").queryName(sinkName).outputMode("append").start()
    try {
      query.processAllAvailable()
      StreamPlans.capture("stream_static_join", query)
    } finally query.stop()
    InMemoryQueueRegistry.remove(runId)
    s.table(sinkName).orderBy(col("event_id"))
  }
  val streamStaticJoinSql: String =
    """SELECT event_id, user_id, c_name, c_mktsegment
      |FROM events JOIN customer ON user_id = c_custkey
      |WHERE event_id < 1000 ORDER BY event_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_static_join" -> streamStaticJoin _,
    "stream_source_read" -> streamSourceRead _,
    "stream_exactly_once" -> streamExactlyOnce _,
    "stream_exactly_once_rocksdb" -> streamExactlyOnceRocksdb _,
    "stream_window_agg" -> streamWindowAgg _,
    "stream_drop_duplicates" -> streamDropDuplicates _,
    "stream_dedup_within_watermark" -> streamDedupWithinWatermark _,
  )
  val oracles: Map[String, String] = Map(
    "stream_static_join" -> streamStaticJoinSql,
    "stream_source_read" -> streamSourceReadSql,
    "stream_exactly_once" -> streamExactlyOnceSql,
    "stream_exactly_once_rocksdb" -> streamExactlyOnceSql,
    "stream_window_agg" -> streamWindowAggSql,
    "stream_drop_duplicates" -> streamDropDuplicatesSql,
    "stream_dedup_within_watermark" -> streamDedupWithinWatermarkSql,
  )
}

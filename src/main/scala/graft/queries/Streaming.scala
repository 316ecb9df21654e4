package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.QueryDef
import StreamRun.Feed

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

  /** The documents table's columns, as the document-streaming rows
    * declare them to the source. */
  private[queries] val docsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

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

  /** The `events < CUTOFF` slice staged as `nFiles` hash-partitioned
    * files; one [[StageCache]] entry per layout, shared by every row of
    * the streaming modules that streams it. */
  private[queries] def stageEvents(s: SparkSession, dir: String, gate: String, nFiles: Int): String =
    StageCache.dir(gate,
        s"$dir|events|lt$CUTOFF|hash:$nFiles:event_id", Seq(s"$dir/events.parquet")) { out =>
      eventsNtz(s, dir)
        .filter(col("event_id") < CUTOFF)
        .repartition(nFiles, col("event_id"))
        .write.mode("overwrite").parquet(out)
    }

  /** O4/O12/O13 e2e: every announced row arrives exactly once. Announces
    * 4 files with maxFilesPerTrigger=2 so the result spans >=2 micro-batch
    * offsets (exercising offset arithmetic, not just one getBatch). */
  def streamSourceRead(s: SparkSession, dir: String): DataFrame =
      StreamRun(s, "stream_source_read") { run =>
    val stage = stageEvents(s, dir, run.gate, nFiles = 4)
    run.memory(run.source(eventsSchema, Seq(Feed(stage, StreamRun.modified)),
        "maxFilesPerTrigger" -> "2"), "append")
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
      withStateShuffle(s, 4) { StreamRun(s, gateName) { run =>
    val stage = stageEvents(s, dir, gateName, nFiles = 3)
    // announce every file twice
    val events = run.source(eventsSchema, Seq(Feed(stage, StreamRun.modified, copies = 2)))
    run.memory(events.groupBy(col("event_type")).agg(count(lit(1)).as("n")), "complete")
      .orderBy(col("event_type"))
  }}
  val streamExactlyOnceSql: String =
    s"""SELECT event_type, COUNT(*) AS n FROM events
       |WHERE event_id < $CUTOFF GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Event-time tumbling window + watermark over the streamed rows.
    * A far-future sentinel file (announced last, its own micro-batch via
    * maxFilesPerTrigger=1... see below) pushes the watermark past every
    * real window so append mode emits them; the sentinel's own window is
    * filtered out of the result. */
  def streamWindowAgg(s: SparkSession, dir: String): DataFrame = withStateShuffle(s, 4) {
      StreamRun(s, "stream_window_agg") { run =>
    val stage = stageEvents(s, dir, run.gate, nFiles = 2)
    val sentStage = sentinelEventsDir(s, run.gate, userId = 0L)
    val nReal = StreamRun.parquetFiles(stage).length
    // deterministic batching: the AvailableNow run drains ALL announced
    // files (real + sentinel) before batch 0, then batch 1 = the
    // oldest-timestamped real files and batch 2 = the sentinel — a
    // timing-dependent split would let the sentinel advance the watermark
    // past real rows still in flight
    val streamed = run.source(eventsSchema,
        Seq(Feed(stage, StreamRun.at(1000L)), Feed(sentStage, StreamRun.at(2000L))),
        // real data first, sentinel in a later micro-batch (batches are oldest first)
        "maxFilesPerTrigger" -> nReal.toString)
      .withColumn("event_ts", eventTs)
      .withWatermark("event_ts", "1 minute")
      .groupBy(window(col("event_ts"), "1 hour"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double").as("total"))
    run.memory(streamed, "append")
      .filter(year(col("window.start")) < 2099) // drop the sentinel's window
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("n"), col("total"))
      .orderBy(col("win_start"))
  }}
  val streamWindowAggSql: String =
    s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       |  COUNT(*) AS n,
       |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
       |FROM events WHERE event_id < $CUTOFF
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The same rows announced from two staged copies (distinct paths) one
    * file per trigger, so duplicates arrive in a later micro-batch and
    * only the row-level dedup state can remove them. */
  private def dualEvents(s: SparkSession, dir: String, run: StreamRun): DataFrame = {
    val dual = dualEventsDir(s, dir, run.gate)
    run.source(eventsSchema,
      Seq(Feed(s"$dual/a", StreamRun.modified), Feed(s"$dual/b", StreamRun.modified)),
      "maxFilesPerTrigger" -> "1")
  }

  /** Row-level streaming dedup (`dropDuplicates` state across batches):
    * the same rows are staged in two separate files announced separately,
    * so duplicates span micro-batches and only the dedup state removes
    * them. Complements the connector's file-level exactly-once. */
  def streamDropDuplicates(s: SparkSession, dir: String): DataFrame = withStateShuffle(s, 4) {
      StreamRun(s, "stream_drop_duplicates") { run =>
    run.memory(dualEvents(s, dir, run).dropDuplicates("event_id"), "append")
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy(col("event_id"))
  }}
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
      withStateShuffle(s, 4) { StreamRun(s, "stream_dedup_within_watermark") { run =>
    val deduped = dualEvents(s, dir, run)
      .withColumn("event_ts", eventTs)
      // wide enough that the fixture's whole event-time span stays inside
      // one watermark window: nothing is "late", so removal is genuinely
      // the dedup state's doing (the tight-watermark eviction path is
      // pinned in GraftStatefulStreamingSpec)
      .withWatermark("event_ts", "3650 days")
      .dropDuplicatesWithinWatermark("event_id")
    run.memory(deduped, "append")
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy(col("event_id"))
  }}
  val streamDedupWithinWatermarkSql: String =
    """SELECT event_id, user_id, value FROM events
      |WHERE event_id < 500 ORDER BY event_id""".stripMargin

  /** Stream-static join: streamed events enriched against the static
    * customer dim inside the micro-batch plan (broadcast per batch). */
  def streamStaticJoin(s: SparkSession, dir: String): DataFrame =
      StreamRun(s, "stream_static_join") { run =>
    val stage = StageCache.dir(run.gate,
        s"$dir|events|lt1000|hash:2:event_id", Seq(s"$dir/events.parquet")) { out =>
      eventsNtz(s, dir).filter(col("event_id") < 1000)
        .repartition(2, col("event_id"))
        .write.mode("overwrite").parquet(out)
    }
    val customers = broadcast(Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment")))
    val joined = run.source(eventsSchema, Seq(Feed(stage, StreamRun.modified)))
      .join(customers, col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("c_name"), col("c_mktsegment"))
    run.memory(joined, "append").orderBy(col("event_id"))
  }
  val streamStaticJoinSql: String =
    """SELECT event_id, user_id, c_name, c_mktsegment
      |FROM events JOIN customer ON user_id = c_custkey
      |WHERE event_id < 1000 ORDER BY event_id""".stripMargin

  val rows: Seq[QueryDef] = Seq(
    QueryDef("stream_static_join", streamStaticJoin _, streamStaticJoinSql),
    QueryDef("stream_source_read", streamSourceRead _, streamSourceReadSql),
    QueryDef("stream_exactly_once", streamExactlyOnce _, streamExactlyOnceSql),
    QueryDef("stream_exactly_once_rocksdb", streamExactlyOnceRocksdb _, streamExactlyOnceSql),
    QueryDef("stream_window_agg", streamWindowAgg _, streamWindowAggSql),
    QueryDef("stream_drop_duplicates", streamDropDuplicates _, streamDropDuplicatesSql),
    QueryDef("stream_dedup_within_watermark", streamDedupWithinWatermark _,
      streamDedupWithinWatermarkSql),
  )
}

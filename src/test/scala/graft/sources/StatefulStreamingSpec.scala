package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** Custom stateful processing over the push-based source:
  * `mapGroupsWithState` keeps per-key state across the micro-batches the
  * connector produces (the Structured Streaming capability SURVEY §2.2
  * lists for our extensions). Two files forced into two separate batches
  * prove state carries across batch boundaries.
  */
class StatefulStreamingSpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  test("mapGroupsWithState accumulates per-user counts across micro-batches") {
    import spark.implicits._
    val qn = s"state-${System.nanoTime()}"
    val queue = InMemoryQueueRegistry.queue(qn)
    val dir = tempDir("state")
    def put(name: String, rows: Seq[(Long, Double)]): String = {
      val f = dir.resolve(name)
      val body = rows.map { case (u, v) => s"""{"user_id":$u,"value":$v}""" }.mkString("\n")
      Files.write(f, body.getBytes)
      "file:" + f
    }
    // batch 1: u1 x2, u2 x1; batch 2: u1 x1, u2 x2
    queue.send(s"""{"path":"${put("b1.json", Seq(1L -> 1.0, 1L -> 2.0, 2L -> 3.0))}","timestampMs":1000}""")
    queue.send(s"""{"path":"${put("b2.json", Seq(1L -> 4.0, 2L -> 5.0, 2L -> 6.0))}","timestampMs":2000}""")

    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("value", DoubleType)))
    val ds = spark.readStream.format("graft-files").schema(schema)
      .option("fileFormat", "json").option("queueName", qn)
      .option("maxFilesPerTrigger", "1").option("sortBatchByTimestamp", "true")
      .option("queueFetchWaitTimeoutSeconds", "5")
      .load()
      .as[(Long, Double)]

    val counted = ds.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + rows.size
          state.update(total)
          (user, total)
      }

    val sink = s"stateout${System.nanoTime()}"
    val q = counted.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Update()).start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table(sink).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch1 updates: (1,2),(2,1); batch2 updates on top of kept state: (1,3),(2,3)
    assert(got == Set((1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L)))
  }

  test("windowed aggregation state survives a checkpointed restart") {
    import org.apache.spark.sql.functions._
    val qn = s"winrst-${System.nanoTime()}"
    val queue = InMemoryQueueRegistry.queue(qn)
    val dir = tempDir("winrst")
    val ckpt = tempDir("winrst-ck").toString
    val out = tempDir("winrst-out").toString
    val schema = StructType(Seq(StructField("id", LongType)))
    def put(name: String, ids: Seq[Long]): Unit = {
      val f = dir.resolve(name)
      Files.write(f, ids.map(i => s"""{"id":$i}""").mkString("\n").getBytes)
      queue.send(s"""{"path":"file:$f","timestampMs":${ids.head}}""")
    }
    // id -> event time id*600s; 1h tumbling windows => window k holds ids 6k..6k+5
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-files").schema(schema)
        .option("fileFormat", "json").option("queueName", qn)
        .option("queueFetchWaitTimeoutSeconds", "5")
        .load()
        .withColumn("ts", timestamp_seconds(col("id") * 600))
        .withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("long").as("win"), col("n"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    // run 1: window 0 closes (ids 1-5 < 6*600s), window 1 stays OPEN in
    // the state store with 3 rows (ids 6-8)
    put("a.json", 1L to 8L)
    runOnce()
    // run 2, same checkpoint: ids 9-11 must MERGE into recovered window-1
    // state; ids 12-14 open window 2; the sentinel flushes everything
    put("b.json", 9L to 14L)
    put("sent.json", Seq(1000000L))
    runOnce()
    val got = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) / 3600 -> r.getLong(1)).toMap.removed(1000000L * 600 / 3600)
    // window 1 counting 6 proves pre-restart partial state (3) merged
    // with post-restart rows (3) instead of starting over
    assert(got == Map(0L -> 5L, 1L -> 6L, 2L -> 3L), s"got $got")
  }

  test("dropDuplicatesWithinWatermark evicts state once the watermark passes") {
    import org.apache.spark.sql.functions._
    val qn = s"dedupww-${System.nanoTime()}"
    val queue = InMemoryQueueRegistry.queue(qn)
    val dir = tempDir("dedupww")
    def put(name: String, rows: Seq[(Long, String)]): String = {
      val f = dir.resolve(name)
      val body = rows.map { case (id, ts) => s"""{"id":$id,"ts":"$ts"}""" }.mkString("\n")
      Files.write(f, body.getBytes)
      "file:" + f
    }
    // batch 1: keys 1,2 at t0; batch 2: far-future sentinel advances the
    // watermark past t0 + 1h; batch 3: DUPLICATES of 1,2 at t0 — by now
    // their state is evicted and the rows are below the watermark
    queue.send(s"""{"path":"${put("b1.json", Seq(1L -> "2024-01-01T00:00:00.000Z", 2L -> "2024-01-01T00:00:00.000Z"))}","timestampMs":1000}""")
    queue.send(s"""{"path":"${put("b2.json", Seq(99L -> "2024-02-01T00:00:00.000Z"))}","timestampMs":2000}""")
    queue.send(s"""{"path":"${put("b3.json", Seq(1L -> "2024-01-01T00:00:00.000Z", 2L -> "2024-01-01T00:00:00.000Z"))}","timestampMs":3000}""")

    val schema = StructType(Seq(
      StructField("id", LongType), StructField("ts", TimestampType)))
    val sink = s"dwwout${System.nanoTime()}"
    val q = spark.readStream.format("graft-files").schema(schema)
      .option("fileFormat", "json").option("queueName", qn)
      .option("maxFilesPerTrigger", "1").option("sortBatchByTimestamp", "true")
      .option("queueFetchWaitTimeoutSeconds", "5")
      .load()
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("id")
      .writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append()).start()
    val finalState = try {
      q.processAllAvailable()
      q.recentProgress.reverse.collectFirst {
        case p if p.stateOperators.nonEmpty => p.stateOperators.head.numRowsTotal
      }
    } finally q.stop()

    // each key emitted exactly once — the batch-3 duplicates were removed
    // (as evicted-state late rows, the same visible result dedup gives)
    val got = spark.table(sink).select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L, 99L), s"got $got")
    // the BOUNDED-state claim: keys 1,2 (event time below the advanced
    // watermark) are evicted; only the sentinel's state row remains
    assert(finalState.contains(1L),
      s"state not bounded by the watermark: numRowsTotal=$finalState (want 1)")
  }
}

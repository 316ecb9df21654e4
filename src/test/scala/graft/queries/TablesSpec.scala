package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** Fixture-schema guard laws (r12 VERDICT "Next round" item 3): a
  * regenerated fixture whose dtypes drift must fail LOUDLY, naming the
  * drifted column — round 12's events.ts nanos→timestamp[us] shift flowed
  * silently into four wrong-answer streaming rows. Also pins the
  * dtype-dispatched [[Tables.tsUs]] derivation both the relational and
  * streaming surfaces share.
  */
class TablesSpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.codegen.maxFields", "256")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  test("driver fixtures pass the schema guard") {
    val s = spark
    // loads throw on drift; touching count() proves the read is sound too
    assert(Tables.events(s, "/root/testdata/sf0.001").count() > 0)
    assert(Tables.embeddings(s, "/root/testdata/sf0.001").count() > 0)
  }

  test("a wrong-typed fixture fails loudly naming the drifted column") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-drift").toString
    // events.ts as STRING — a dtype no generation ever shipped
    Seq((1L, "2024-01-01 00:00:00", 7L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(s, dir))
    assert(e.getMessage.contains("events.ts"), e.getMessage)
    assert(e.getMessage.contains("drift"), e.getMessage)
  }

  test("streaming stage normalization yields NTZ micros from a legacy-long fixture") {
    val s = spark
    import s.implicits._
    val us = 1709618828123456L
    val dir = tempDir("graft-legacy-events").toString
    Seq((1L, us * 1000L, 7L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val norm = Streaming.eventsNtz(s, dir)
    assert(norm.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType,
      s"stage frame must carry TIMESTAMP_NTZ, got ${norm.schema("ts").dataType}")
    val got = norm.select(org.apache.spark.sql.functions.unix_micros(
      norm("ts").cast("timestamp"))).head().getLong(0)
    assert(got == us, s"normalized micros drifted: $got != $us")
  }

  test("tsUs dispatches on both fixture generations and agrees exactly") {
    val s = spark
    import s.implicits._
    // the same instant spelled both ways: epoch-nanos long (legacy) and
    // TIMESTAMP_NTZ (current). 2024-03-05 06:07:08.123456 UTC.
    val us = 1709618828123456L
    val legacy = Seq((1L, us * 1000L)).toDF("event_id", "ts")
    val current = Seq((1L, java.time.LocalDateTime
        .ofEpochSecond(us / 1000000L, ((us % 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)))
      .toDF("event_id", "ts")
    val a = legacy.select(Tables.tsUs(legacy).as("us")).head().getLong(0)
    val b = current.select(Tables.tsUs(current).as("us")).head().getLong(0)
    assert(a == us && b == us, s"legacy=$a current=$b expected=$us")
  }
}

package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** Measured state-size invariance for the always-on streaming monitors.
  *
  * Each harness claims its state is bounded by the KEY DOMAIN (users /
  * types×days / labels×dim), never by event volume — scaladoc claims
  * until round 15. This spec replays a 10× event volume with the SAME
  * key domain through the real gate harnesses and asserts the final
  * progress's `stateOperators.numRowsTotal` (recorded by
  * [[StreamPlans.capture]]) is IDENTICAL across volumes and equal to
  * the key-domain size. A state leak that scales with events (e.g. a
  * per-event cell, a missing aggregate pushdown) fails here with the
  * two measured counts in the message.
  */
class StateInvarianceSpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private val Users = 20
  private val Types = Array("view", "click", "cart", "purchase", "error")
  private val Days = 5
  private val Labels = 10
  private val Dim = 8
  private val BaseUs = 1767225600000000L // 2026-01-01T00:00:00Z

  /** `n` events over a FIXED key domain: `Users` users, 5 types, 5 days
    * (all ids < the harness CUTOFF of 2000, so every event streams). */
  private def writeEvents(n: Int): String = {
    require(n <= 2000, "ids must stay under the streaming-harness CUTOFF")
    val s = spark; import s.implicits._
    val dir = tempDir("graft-sinv").toString
    (0 until n).map { i =>
      val tsUs = BaseUs + ((i / 5) % Days).toLong * 86400000000L + i.toLong * 1000L
      (i.toLong, tsUs, (i % Users).toLong, Types(i % Types.length),
        (i % 7).toDouble, "{}")
    }.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select($"event_id",
        timestamp_micros($"ts_us").cast(TimestampNTZType).as("ts"),
        $"user_id", $"event_type", $"value", $"props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** `n` vectors over a fixed `Labels`-label, `Dim`-dim domain. */
  private def writeEmbeddings(n: Int): String = {
    val s = spark; import s.implicits._
    val dir = tempDir("graft-sinv-emb").toString
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(Dim)(p => 0.01f * ((i + p) % 50)), i % Labels)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def stateRowsAfter(name: String)(run: => Unit): Long = {
    run
    StreamPlans.stateRowsOf(name).getOrElse(
      fail(s"$name recorded no state rows — capture() saw no state operator"))
  }

  test("stream_journey_markov: state rows = users, invariant under 10x events") {
    val s1 = stateRowsAfter("stream_journey_markov") {
      Streaming3.streamJourneyMarkov(spark, writeEvents(200)).collect()
    }
    val s10 = stateRowsAfter("stream_journey_markov") {
      Streaming3.streamJourneyMarkov(spark, writeEvents(2000)).collect()
    }
    assert(s1 == s10, s"state grew with volume: $s1 rows at x1 vs $s10 at x10")
    assert(s1 == Users.toLong,
      s"state must be one ValueState cell per user ($Users), got $s1")
  }

  test("stream_value_anomaly: state rows = types x days, invariant under 10x events") {
    val keyDomain = Types.length.toLong * Days
    val s1 = stateRowsAfter("stream_value_anomaly") {
      Streaming3.streamValueAnomaly(spark, writeEvents(200)).collect()
    }
    val s10 = stateRowsAfter("stream_value_anomaly") {
      Streaming3.streamValueAnomaly(spark, writeEvents(2000)).collect()
    }
    assert(s1 == s10, s"state grew with volume: $s1 rows at x1 vs $s10 at x10")
    assert(s1 == keyDomain,
      s"state must be the types x days daily frame ($keyDomain), got $s1")
  }

  test("stream_emb_drift: state rows = labels x dim, invariant under 10x vectors") {
    val keyDomain = Labels.toLong * Dim
    val s1 = stateRowsAfter("stream_emb_drift") {
      Streaming3.streamEmbDrift(spark, writeEmbeddings(50)).collect()
    }
    val s10 = stateRowsAfter("stream_emb_drift") {
      Streaming3.streamEmbDrift(spark, writeEmbeddings(500)).collect()
    }
    assert(s1 == s10, s"state grew with volume: $s1 rows at x1 vs $s10 at x10")
    assert(s1 == keyDomain,
      s"state must be the labels x dim centroid frame ($keyDomain), got $s1")
  }

  // ------------------- ON-STORAGE state: the ingest-accounting claims.
  // The harnesses above keep state in Spark's state store; stream_cc_delta
  // and stream_decontaminate keep it on STORAGE (standing shingle/band/
  // edge/hit dirs), outside numRowsTotal's view. Their foreachBatch
  // records per-batch appended bytes + the one-time prep wall; these
  // tests consume that log and pin the two claims the scaladocs make:
  // appends track the BATCH (not the accumulated history) and prep
  // (standing-artifact read / eval-index build) is paid once, not per
  // batch — plus the compaction GC bounding standing-dir file counts.

  private val docsSf = "/root/testdata/sf0.001"

  test("stream_cc_delta: appends track the batch, prep paid once, GC bounds files") {
    // 10 one-file batches at compactAfter=3 so compaction actually fires
    val merged = Streaming3.streamCcDeltaRun(spark, docsSf,
      nStageFiles = 10, maxFilesPerTrigger = 1, compactAfter = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(merged.nonEmpty)

    val prep = StreamPlans.prepSecOf("stream_cc_delta")
      .getOrElse(fail("no prep wall recorded"))
    assert(prep > 0.0, "prep (standing-artifact read) must be a paid, one-time cost")
    val log = StreamPlans.ingestLogOf("stream_cc_delta")
    assert(log.size == 10, s"expected 10 micro-batches, got ${log.size}")
    assert(log.map(_.batchId) == log.map(_.batchId).sorted, "batch order")

    // appends ∝ batch: equal-sized batches must append flat bytes. A
    // regime that rewrote the accumulated standing tables per batch
    // would grow the tail ~5x over the head at 10 batches.
    val steady = log.filterNot(_.compacted)
    assert(steady.size >= 5, s"too few non-compaction batches: ${steady.size}")
    assert(steady.forall(_.appendedBytes > 0), s"empty append in $steady")
    val head = steady.take(3).map(_.appendedBytes.toDouble).sum / 3
    val tail = steady.takeRight(3).map(_.appendedBytes.toDouble).sum / 3
    assert(tail <= 2.5 * head,
      s"appends grew with history: head-avg=$head tail-avg=$tail bytes " +
        s"(full log: ${log.map(b => s"b${b.batchId}=${b.appendedBytes}${if (b.compacted) "C" else ""}").mkString(", ")})")

    // GC: compaction fired and standing-dir file counts stayed bounded
    // (without it, 10 batches x 3 dirs accumulate a generation each)
    assert(log.exists(_.compacted), "compaction never fired at compactAfter=3")
    val maxFiles = log.map(_.filesAfter).max
    assert(maxFiles <= 60,
      s"standing-dir parquet files unbounded: $maxFiles " +
        s"(per batch: ${log.map(_.filesAfter).mkString(",")})")

    // hashes unchanged: the many-batch streamed merge equals the batch
    // twin (same standing artifacts, same delta slice)
    val batchTwin = graft.operators.Dedup.dedupCcDelta(spark, docsSf)
    val twin = batchTwin
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    batchTwin.unpersist()
    assert(merged == twin, "streamed merge diverged from the batch twin")
  }

  // Table-driven appends-∝-batch family: every flat-append
  // StreamPlans.recordIngest caller (stream_cc_delta has its own richer
  // test above — compaction GC + batch-twin hash equality). Each row
  // stages near-equal micro-batches, so a harness that re-appended the
  // accumulated HISTORY per batch would land its later batches at ~Nx
  // the first — the pairwise band catches it. `prep` distinguishes the
  // rows with a standing artifact (index/LM built once, never per
  // batch) from sketch rows that carry no artifact at all.
  private case class IngestRow(name: String, batches: Int, pairBand: Double,
      hasPrep: Boolean, invariant: String, run: () => Unit)

  private def ingestRows = Seq(
    IngestRow("stream_decontaminate", 2, 1.8, hasPrep = true,
      "per-batch hit triples, eval index built once",
      () => { Streaming3.streamDecontaminate(spark, docsSf).collect(); () }),
    IngestRow("stream_lm_score", 2, 1.8, hasPrep = true,
      "per-batch doc scores, LM trained once",
      () => { Streaming4.streamLmScore(spark, docsSf).collect(); () }),
    IngestRow("stream_incremental_dedup", 2, 1.8, hasPrep = true,
      "per-batch verdicts, standing shingle index built once",
      () => { Streaming2.streamIncrementalDedup(spark, docsSf).collect(); () }),
    IngestRow("stream_kmv_distinct", 3, 2.0, hasPrep = false,
      "K x #sources sketch rows per batch, never batch-size-proportional",
      () => { Streaming2.streamKmvDistinct(spark, docsSf).collect(); () }))

  ingestRows.foreach { r =>
    test(s"${r.name}: ${r.invariant} (appends track the batch)") {
      r.run()
      if (r.hasPrep) {
        val prep = StreamPlans.prepSecOf(r.name)
          .getOrElse(fail(s"${r.name} recorded no prep wall"))
        assert(prep > 0.0,
          "standing-artifact build must be recorded as one-time prep")
      }
      val log = StreamPlans.ingestLogOf(r.name)
      assert(log.size == r.batches,
        s"expected ${r.batches} micro-batches, got ${log.size}")
      assert(log.map(_.batchId) == log.map(_.batchId).sorted, "batch order")
      assert(log.forall(_.appendedBytes > 0),
        s"each batch must append its own rows: $log")
      val bs = log.map(_.appendedBytes.toDouble)
      assert(bs.max <= r.pairBand * bs.min,
        s"per-batch appends diverged beyond the batch-size band " +
          s"(history re-append?): ${log.map(b => s"b${b.batchId}=${b.appendedBytes}").mkString(", ")}")
    }
  }

  test("compaction marker makes a replayed batch's generation write a no-op") {
    val dir = tempDir("graft-upto").toString
    // virgin dir: nothing covered, every id writes
    assert(StreamPlans.compactedUpto(dir) == -1L)
    // compaction at batch 4 folds gens 0..4 away
    StreamPlans.markCompactedUpto(dir, 4L)
    assert(StreamPlans.compactedUpto(dir) == 4L)
    assert(5L > StreamPlans.compactedUpto(dir), "batch 5 must still write")
    assert(!(3L > StreamPlans.compactedUpto(dir)), "replayed batch 3 must skip")
    // later compaction only moves the mark forward, never back
    StreamPlans.markCompactedUpto(dir, 2L)
    assert(StreamPlans.compactedUpto(dir) == 4L)
    StreamPlans.markCompactedUpto(dir, 9L)
    assert(StreamPlans.compactedUpto(dir) == 9L)
    // the marker is underscore-prefixed: Spark's file index ignores it,
    // so a parquet read of a dir holding only the marker sees no data
    // files rather than a corrupt-footer error on the marker itself
    val s = spark; import s.implicits._
    Seq((1L, 2L)).toDF("a", "b").write.mode("overwrite")
      .parquet(s"$dir/gen=10")
    assert(spark.read.parquet(dir).count() == 1L)
  }

  /** `n` synthetic documents over a fixed 7-token vocabulary per slot
    * (schema-guard-conformant `documents.parquet`): the shard-manifest
    * volume-invariance fixture. */
  private def writeDocs(n: Int): String = {
    val s = spark; import s.implicits._
    val dir = tempDir("graft-sinv-docs").toString
    (0 until n).map { i =>
      val text = s"tok${i % 7} tok${(i * 3) % 11} w${i % 13} end"
      (i.toLong, text, if (i % 3 == 0) "en" else "de",
        s"src${i % 4}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("stream_shard_manifest: exactly ONE state cell (running offset), invariant under 10x docs") {
    val s1 = stateRowsAfter("stream_shard_manifest") {
      Streaming3.streamShardManifest(spark, writeDocs(100)).collect()
    }
    val s10 = stateRowsAfter("stream_shard_manifest") {
      Streaming3.streamShardManifest(spark, writeDocs(1000)).collect()
    }
    assert(s1 == s10, s"state grew with volume: $s1 rows at x1 vs $s10 at x10")
    assert(s1 == 1L,
      s"the manifest coordinator keeps ONE running-offset cell, got $s1")
  }
}

package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** Planted-fixture behavior for the second-generation dedup operators and
  * the training-order layout: properties the corpus-level oracle check
  * can't pin down (WHICH text is boilerplate, WHICH vector of a dup pair
  * survives, shard-layout invariants). */
class Dedup2Spec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private val sf = "/root/testdata/sf0.001"

  private def plantDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tempDir("graft-d2docs").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fixture"))
      .withColumn("n_chars", length($"text").cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("dedup_segments strips cross-doc boilerplate, keeps unique segments in order") {
    // 4-token segments; 'b1..b4' is the shared boilerplate header
    val boiler = "b1 b2 b3 b4"
    val dir = plantDocs(Seq(
      1L -> s"$boiler u11 u12 u13 u14 u15 u16 u17 u18",
      2L -> s"$boiler u21 u22 u23 u24",
      3L -> "u31 u32 u33 u34 u35 u36 u37 u38"))
    val got = Dedup2.dedupSegments(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((3L, 1L, "u11 u12 u13 u14 u15 u16 u17 u18")))
    assert(got(2L) == ((2L, 1L, "u21 u22 u23 u24")))
    assert(got(3L) == ((2L, 0L, "u31 u32 u33 u34 u35 u36 u37 u38")))
  }

  test("dedup_segments: a doc that is all boilerplate yields empty clean_text") {
    val dir = plantDocs(Seq(1L -> "b1 b2 b3 b4", 2L -> "b1 b2 b3 b4"))
    val got = Dedup2.dedupSegments(spark, dir).collect()
    got.foreach { r =>
      assert(r.getLong(2) == 1L && r.getString(3) == "")
    }
  }

  test("semdedup drops the higher-id member of a planted near-dup pair only") {
    import spark.implicits._
    // 64-dim: 30 well-separated one-hot-ish vectors + one near-copy of vec 3
    val rows = (0 until 30).map { i =>
      val v = Array.fill(64)(0.01f); v(i) = 1.0f
      (i.toLong, v.toSeq)
    } :+ {
      val v = Array.fill(64)(0.011f); v(3) = 0.99f
      (99L, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val got = Dedup2.semDedupOn(spark, emb).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(!got(99L), "the near-copy (higher id) must be dropped")
    assert(got(3L), "the original (lowest id of the pair) must survive")
    assert(got.count(!_._2) == 1, "nothing else qualifies as a semantic dup")
  }

  test("new ops keep their scale shapes: broadcast hot set, no cartesian, sharded windows") {
    val seg = Dedup2.dedupSegments(spark, sf).queryExecution.executedPlan.toString
    assert(seg.contains("BroadcastHashJoin") || seg.contains("BroadcastExchange"),
      s"hot-segment set must broadcast, not shuffle the corpus:\n$seg")
    val sem = Dedup2.semDedup(spark, sf).queryExecution.executedPlan.toString
    assert(!sem.contains("CartesianProduct") && !sem.contains("BroadcastNestedLoopJoin"),
      s"semdedup must pair only within clusters via equi-join:\n$sem")
    val ord = PipelineOps.trainOrder(spark, sf).queryExecution.executedPlan.toString
    assert(!ord.contains("SinglePartition"),
      s"training order must never funnel through one window partition:\n$ord")
  }

  test("dedup_incremental rejects a delta doc cloned from base, admits fresh ones") {
    // doc_id % 5 == 0 is the delta slice; 10 clones base doc 11, 15 is fresh
    val base = (1 to 40).map(i => f"w$i%02d").mkString(" ")
    val dir = plantDocs(Seq(
      11L -> base,
      10L -> base,
      15L -> (100 to 140).map(i => s"z$i").mkString(" "),
      12L -> "other base text that matters not here at all"))
    val got = Dedup2.dedupIncremental(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2))))
      .toMap
    assert(got(10L) == ((false, 11L)), "clone must be rejected against its base original")
    assert(got(15L) == ((true, -1L)), "fresh delta content must be admitted")
    assert(got.keySet == Set(10L, 15L), "verdicts cover exactly the delta slice")
  }

  test("stream_incremental_dedup: streamed verdicts equal the batch operator's") {
    // same planted fixture as the batch test; the stream must reject the
    // clone, admit the fresh doc, and agree with the batch path verdict
    // for verdict (multi-batch slicing must not change results)
    val base = (1 to 40).map(i => f"w$i%02d").mkString(" ")
    val dir = plantDocs(Seq(
      11L -> base,
      10L -> base,
      15L -> (100 to 140).map(i => s"z$i").mkString(" "),
      12L -> "other base text that matters not here at all"))
    val streamed = graft.queries.Streaming2.streamIncrementalDedup(spark, dir).collect()
      .map(_.toString).toSeq
    val batch = Dedup2.dedupIncremental(spark, dir).orderBy("doc_id").collect()
      .map(_.toString).toSeq
    assert(streamed == batch, s"stream/batch divergence:\n$streamed\nvs\n$batch")
    assert(streamed.size == 2)
  }

  test("dedup_incremental: a delta above the broadcast threshold degrades to a " +
    "shuffle join instead of a forced broadcast") {
    // with the threshold floored, a broadcast hint would still force the
    // delta onto the driver (the OOM path); the hint-free plan must fall
    // back to a shuffle join and stay correct
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val out = Dedup2.dedupIncremental(spark, sf)
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"guard against a vacuous check: the join must be visible in the plan:\n$plan")
      assert(!plan.contains("BroadcastHashJoin"),
        s"delta must not broadcast when it exceeds the threshold:\n$plan")
      assert(out.count() > 0)
      out.unpersist()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("text_perplexity: common-token docs score lower avg nll than rare-token docs") {
    // 'c' dominates the corpus LM; doc 2 is made of singletons
    val dir = plantDocs(Seq(
      1L -> "c c c c c c c c c c c c",
      2L -> "r1 r2 r3 r4",
      3L -> "c c c c r5 r6"))
    val got = TextAnalysis.textPerplexity(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(1L) < got(3L) && got(3L) < got(2L),
      s"nll must rank boilerplate < mixed < rare-token soup: $got")
  }

  test("train_order: deterministic, partition-invariant, dense per-shard positions") {
    val a = PipelineOps.trainOrder(spark, sf).collect()
    val b = PipelineOps.trainOrder(spark, sf).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    val byShard = a.groupBy(_.getLong(2))
    assert(byShard.keySet.subsetOf((0L until 8L).toSet))
    byShard.foreach { case (_, rows) =>
      assert(rows.map(_.getInt(3)).sorted.toSeq == (1 to rows.length).toSeq,
        "positions must be dense 1..n within each shard")
    }
    assert(a.map(_.getLong(0)).distinct.length == a.length, "every doc exactly once")
  }

  test("dedup_cc_delta: incremental merge equals the full LSH rebuild") {
    val merged = Dedup.dedupCcDelta(spark, sf).collect().map(_.toString).toSeq
    val full = Dedup.dedupClustersLsh(spark, sf).collect().map(_.toString).toSeq
    assert(merged.nonEmpty, "fixture plants near-dup clusters")
    assert(merged == full,
      "standing-pairs union delta-touching pairs must reproduce the full rebuild")
  }
}

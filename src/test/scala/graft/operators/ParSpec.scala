package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** Laws for [[Par.spread]], the fixture-parallelism guard that replaced
  * the unconditional `repartition(key)` shims operators used to carry
  * (r11 VERDICT defect 2). The contract: few-split input (the
  * single-file test fixture) still gets hash-spread so the fuzzy-dedup /
  * text kernels occupy every core, but many-split input — the only kind
  * that exists at production scale — passes through with the IDENTICAL
  * plan, no corpus-wide shuffle.
  */
class ParSpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    // make small staged files plan one-split-per-file so a re-split
    // fixture reads as genuinely multi-split input on local[4]
    .config("spark.sql.files.maxPartitionBytes", (64 * 1024).toString)
    .config("spark.sql.files.openCostInBytes", "0")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private val sf = "/root/testdata/sf0.001"

  /** The single-file documents fixture re-written as 8 parquet files —
    * the shape a production scan always has. */
  private lazy val multiSplitDir: String = {
    val dir = tempDir("graft-presplit").toString
    spark.read.parquet(s"$sf/documents.parquet")
      .repartition(8, col("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("spread is a NO-OP (eq-identical frame) on input already at session parallelism") {
    import spark.implicits._
    val many = spark.range(0, 1000).repartition(8).toDF("doc_id")
    assert(many.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism)
    val out = Par.spread(many, $"doc_id")
    assert(out eq many, "spread shuffled many-split input")
  }

  test("shuffle-bearing input passes through untouched, before any .rdd probe") {
    import spark.implicits._
    // a grouped frame already redistributes; spread must return it
    // eq-identical WITHOUT touching .rdd (which under AQE would eagerly
    // materialize the upstream shuffle stage as real jobs)
    val grouped = spark.range(0, 1000).toDF("doc_id")
      .groupBy($"doc_id" % 7).count()
    val out = Par.spread(grouped, $"count")
    assert(out eq grouped, "spread touched a shuffle-bearing frame")
  }

  test("spread hash-spreads few-split input up to the shuffle width") {
    import spark.implicits._
    val one = spark.range(0, 1000).coalesce(1).toDF("doc_id")
    assert(one.rdd.getNumPartitions === 1)
    val out = Par.spread(one, $"doc_id")
    assert(out ne one)
    // AQE may coalesce the tiny test shuffle back down — the law is the
    // PLAN gained a hash-spread, not the post-AQE partition count
    assert(out.queryExecution.sparkPlan.toString.contains("hashpartitioning(doc_id"))
  }

  test("multi-split scan reads as >= parallelism splits under the staged layout") {
    val docs = graft.queries.Tables.documents(spark, multiSplitDir)
    assert(docs.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism,
      "staging failed to produce a genuinely multi-split scan — the plan-law " +
        "tests below would pass vacuously")
  }

  test("topNgrams on multi-split input plans NO doc_id exchange before its aggregation") {
    // the old shim shuffled the whole corpus on doc_id before an agg keyed
    // on BIGRAM — pure waste at scale; the only exchanges left must be the
    // bigram-keyed aggregation's own
    val plan = TextAnalysis.topNgrams(spark, multiSplitDir).queryExecution.sparkPlan.toString
    assert(!plan.contains("hashpartitioning(doc_id"),
      s"fixture shim resurrected — corpus-wide doc_id shuffle in:\n$plan")
  }

  test("bpePairCounts on multi-split input plans NO doc_id exchange before its aggregation") {
    val plan = TextAnalysis.bpePairCounts(spark, multiSplitDir).queryExecution.sparkPlan.toString
    assert(!plan.contains("hashpartitioning(doc_id"),
      s"fixture shim resurrected — corpus-wide doc_id shuffle in:\n$plan")
  }

  test("spread-gated operators return identical results on single- and multi-split input") {
    // partition independence, specialized to the two input shapes the gate
    // actually switches between (DeterminismSpec sweeps shuffle widths)
    for ((name, fn) <- Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)](
        ("top_ngrams", TextAnalysis.topNgrams),
        ("bpe_pair_counts", TextAnalysis.bpePairCounts))) {
      val single = fn(spark, sf).collect().toSeq
      val multi = fn(spark, multiSplitDir).collect().toSeq
      assert(single === multi, s"$name output depends on input split count")
    }
  }
}

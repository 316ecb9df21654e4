package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Laws for the transformWithState gate: the cross-batch profile must be
  * run-deterministic (state accumulation + timer flush cannot depend on
  * scheduling), and the state-store provider conf must be restored after
  * the query so co-resident streaming queries keep their default.
  */
class Streaming3Spec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.codegen.maxFields", "256")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("stream_tws_profile is run-deterministic and restores the provider conf") {
    val dir = "/root/testdata/sf0.001"
    val before = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val a = Streaming3.streamTwsProfile(spark, dir).collect().map(_.toString).toSeq
    val b = Streaming3.streamTwsProfile(spark, dir).collect().map(_.toString).toSeq
    assert(a.nonEmpty, "profile gate must emit rows")
    assert(a == b, "two runs of the same binary+data must emit identical rows")
    assert(spark.conf.getOption("spark.sql.streaming.stateStore.providerClass") == before,
      "provider conf must be restored after the query")
  }

  test("stream_pipeline_curate equals the Spark-batch composition (invariance pin)") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val streamed = Streaming3.streamPipelineCurate(spark, dir).collect()
      .map(_.toString).toSeq
    // the same three stages, batch-spelled: cascade pass -> first copy
    // per content fingerprint (min doc_id) -> doc_id-ordered prefix-sum
    // shards -> per-shard report
    val surv = Tables.documents(spark, dir)
      .withColumn("toks", graft.functions.Parity.tokens($"text"))
      .filter(graft.operators.Curation.cascadeRule($"toks") === "pass")
      .select(md5($"text").as("fp"), $"doc_id", size($"toks").cast("long").as("ntok"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"fp").orderBy($"doc_id")))
      .filter($"rn" === 1)
      .select($"doc_id", $"ntok")
    val w = org.apache.spark.sql.expressions.Window.orderBy($"doc_id")
    val batch = surv
      .withColumn("start_off", sum($"ntok").over(w) - $"ntok")
      .withColumn("shard_id", expr(
        s"start_off div ${graft.operators.Curation7.ShardTokens}"))
      .groupBy($"shard_id")
      .agg(count(lit(1)).as("n_docs"), sum($"ntok").as("sum_tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"shard_id")
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty, "composed pipeline must emit shards")
    assert(streamed == batch,
      s"stream/batch divergence:\nstream=$streamed\nbatch =$batch")
  }
}

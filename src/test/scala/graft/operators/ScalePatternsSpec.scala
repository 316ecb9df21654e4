package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** Scale-pattern evidence the gate queries can't show directly:
  * bucketing removes the join shuffle entirely (the co-located-join
  * story for repeatedly-joined 100 TB tables), AQE splits hot-key join
  * partitions at runtime (the skew story beyond manual salting), and
  * foreachBatch gives an idempotent, batch-id-addressed sink (the
  * exactly-once output story).
  */
class ScalePatternsSpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val warehouse = tempDir("graft-wh").toString

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", warehouse)
    // force a sort-merge plan so the assertion is about bucketing, not
    // about the dim being small enough to broadcast
    .config("spark.sql.autoBroadcastJoinThreshold", "-1")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private val sf = "/root/testdata/sf0.001"

  test("bucketed tables join without any shuffle exchange") {
    import spark.implicits._
    spark.read.parquet(s"$sf/lineitem.parquet")
      .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_bucketed")
    spark.read.parquet(s"$sf/orders.parquet")
      .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("ord_bucketed")

    val joined = spark.table("li_bucketed")
      .join(spark.table("ord_bucketed"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    // the join itself must be exchange-free: both sides arrive pre-hashed
    // into the same 8 buckets. (The later single aggregation exchange on
    // o_orderpriority is expected and unrelated to the join.)
    val joinSubtree = plan.substring(plan.indexOf("SortMergeJoin"))
    assert(plan.contains("SortMergeJoin"))
    assert(!joinSubtree.contains("Exchange hashpartitioning(l_orderkey")
      && !joinSubtree.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join still shuffles:\n$plan")
    // and it is not just planned but correct
    val viaBuckets = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = spark.read.parquet(s"$sf/lineitem.parquet")
      .join(spark.read.parquet(s"$sf/orders.parquet"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaBuckets == direct)
  }

  test("AQE splits a skewed join partition at runtime") {
    import spark.implicits._
    // one key owns ~90% of the fact side — the classic hot-key join
    val fact = spark.range(0, 200000)
      .select(when($"id" % 10 =!= 0, lit(7L)).otherwise($"id" % 97).as("k"),
        $"id".as("payload"))
    val dim = spark.range(0, 97).select($"id".as("k"), ($"id" * 2).as("v"))
    val prev = spark.conf.getOption("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      // the downstream must NOT require hash-distribution on the join key
      // (a groupBy(k) would make AQE refuse the split because re-splitting
      // the partition would break the required distribution) — a global
      // count aggregates partially per split, so the skew split is legal
      val joined = fact.join(dim, "k").groupBy().count()
      val rows = joined.collect() // AQE decides after the shuffle runs
      assert(rows.head.getLong(0) == 200000L)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE to mark the hot partition as skewed:\n$plan")
    } finally {
      Seq("spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes").foreach(spark.conf.unset)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      prev.foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    }
  }

  test("partitioned layout prunes partitions at the scan") {
    import spark.implicits._
    val out = tempDir("graft-part").toString
    spark.read.parquet(s"$sf/events.parquet")
      .write.partitionBy("event_type").mode("overwrite").parquet(out)
    val purchases = spark.read.parquet(out).filter($"event_type" === "purchase")
    val plan = purchases.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_type"),
      s"expected the event_type predicate to prune directories:\n$plan")
    val expected = spark.read.parquet(s"$sf/events.parquet")
      .filter($"event_type" === "purchase").count()
    assert(purchases.count() == expected)
  }

  test("dynamic partition pruning fires on a dim-filtered join") {
    import spark.implicits._
    val out = tempDir("graft-dpp").toString
    spark.read.parquet(s"$sf/events.parquet")
      .write.partitionBy("event_type").mode("overwrite").parquet(out)
    // dim must come from a real source: a filter over a LocalRelation is
    // constant-folded away and DPP no longer sees a selective predicate
    val dimPath = tempDir("graft-dpp-dim").toString
    Seq(("purchase", 1), ("click", 2), ("view", 3)).toDF("et", "w")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
      .filter($"w" === 1) // selective dim filter -> only 'purchase' partitions scan
    // DPP (default reuseBroadcastOnly) piggybacks on the dim broadcast —
    // re-enable broadcasting, which this suite disables globally
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      val joined = spark.read.parquet(out).join(dim, $"event_type" === $"et")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"),
        s"expected a dynamic partition pruning subquery on event_type:\n$plan")
      val expected = spark.read.parquet(s"$sf/events.parquet")
        .filter($"event_type" === "purchase").count()
      assert(joined.count() == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
  }

  test("nested schema pruning reads only the selected struct field") {
    import spark.implicits._
    val out = tempDir("graft-nest").toString
    spark.read.parquet(s"$sf/orders.parquet")
      .select($"o_orderkey", struct($"o_totalprice".as("price"),
        $"o_orderpriority".as("prio"), $"o_orderstatus".as("st")).as("info"))
      .write.mode("overwrite").parquet(out)
    val narrow = spark.read.parquet(out).select($"o_orderkey", $"info.price")
    val scan = narrow.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scan.contains("price") && !scan.contains("prio") && !scan.contains("st,"),
      s"struct should be pruned to the one read field:\n$scan")
  }

  test("foreachBatch sink writes batch-id-addressed output idempotently") {
    import spark.implicits._
    val out = tempDir("graft-fb").toString
    val input = spark.read.parquet(s"$sf/events.parquet")
      .select($"event_id", $"event_type").limit(100)
    val stage = tempDir("graft-fb-in").toString
    input.coalesce(1).write.mode("overwrite").parquet(stage)

    val stream = spark.readStream.schema(input.schema).parquet(stage)
    val q = stream.writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
      // deterministic, re-runnable: a retried batch overwrites its own
      // directory instead of appending duplicates
      df.write.mode("overwrite").parquet(s"$out/batch=$id")
      // simulate the retry a failure-mid-commit would cause
      df.write.mode("overwrite").parquet(s"$out/batch=$id")
      ()
    }.start()
    try q.processAllAvailable() finally q.stop()

    val written = spark.read.parquet(s"$out/batch=0")
    assert(written.count() == 100)
    assert(written.select(sum($"event_id")).head.getLong(0) ==
      input.select(sum($"event_id")).head.getLong(0))
  }
}

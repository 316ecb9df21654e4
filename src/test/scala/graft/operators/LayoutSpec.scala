package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs
import graft.queries.Layout

/** Plan-shape laws for the storage-layout queries: the whole point of
  * q46/q47 is WHICH work the plan avoids, so the avoidance itself is
  * what these tests pin down (the values are gated by the DuckDB oracle
  * against the un-rewritten tables).
  */
class LayoutSpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.codegen.maxFields", "256")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private val sf = "/root/testdata/sf0.001"

  /** AdaptiveSparkPlanExec and the per-stage QueryStageExec wrappers are
    * LEAF nodes — plan.collect never descends into them, so scans must
    * be reached by expanding each wrapper's inner plan explicitly. */
  private def deepScans(p: SparkPlan): Seq[FileSourceScanExec] = {
    val self = p match { case f: FileSourceScanExec => Seq(f); case _ => Nil }
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    self ++ inner.flatMap(deepScans)
  }

  test("q46: bucketed join shuffles only the aggregate, never the join keys") {
    val plan = Layout.q46BucketedJoin(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      "broadcast would hide the co-location being demonstrated")
    val joinKeyShuffles = Seq("hashpartitioning(o_custkey", "hashpartitioning(c_custkey")
      .filter(plan.contains)
    assert(joinKeyShuffles.isEmpty,
      s"join-key shuffle planned despite co-bucketed sides ($joinKeyShuffles):\n$plan")
    val aggShuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(aggShuffles == 1, s"expected exactly the aggregate's shuffle, got $aggShuffles:\n$plan")
  }

  test("q58: the persisted shingle index joins probes with only the probe-side shuffle") {
    val it = Layout.shingleIndexTable(spark, sf)
    val s = spark; import s.implicits._
    // a probe frame NOT bucketed on s — the shape of an arriving batch
    val probe = Seq((1L, 5L, 123L), (2L, 7L, 456L)).toDF("d_id", "sz_d", "s")
    val plan = spark.table(it).hint("merge").join(probe, "s")
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected sort-merge join:\n$plan")
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(ex == 1, s"expected only the probe-side shuffle, got $ex:\n$plan")
  }

  test("q58 baseline: the same join over a raw (unbucketed) index pays both shuffles") {
    val s = spark; import s.implicits._
    val raw = spark.read.parquet(s"$sf/documents.parquet")
      .filter($"doc_id" % 5 =!= 0)
      .select($"doc_id", org.apache.spark.sql.functions.xxhash64($"text").as("s"))
    val probe = Seq((1L, 5L, 123L), (2L, 7L, 456L)).toDF("d_id", "sz_d", "s")
    val plan = raw.hint("merge").join(probe, "s").queryExecution.executedPlan.toString
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(ex == 2, s"expected both join-side shuffles over raw data, got $ex:\n$plan")
  }

  test("q46 baseline: the same join over raw parquet pays both join-side shuffles") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val raw = spark.read.parquet(s"$sf/orders.parquet").hint("merge")
      .join(spark.read.parquet(s"$sf/customer.parquet"), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("n"))
    val plan = raw.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 3, s"expected 2 join-side + 1 aggregate shuffle, got $shuffles:\n$plan")
  }

  test("q47: event_type predicate becomes a partition filter and prunes input files") {
    val df = Layout.q47PartitionPrune(spark, sf)
    val scans = deepScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "no file scan found in the plan")
    assert(scans.exists(_.partitionFilters.exists(
        _.references.exists(_.name == "event_type"))),
      s"no partition filter on event_type: ${scans.map(_.partitionFilters)}")

    // pruning proof by execution metric (df.inputFiles would NOT prove it:
    // it lists the whole relation, ignoring partition pruning)
    df.collect()
    val executedScans = deepScans(df.queryExecution.executedPlan)
    assert(executedScans.nonEmpty, "no file scan reachable in the executed plan")
    val read = executedScans.map(_.metrics("numFiles").value).sum
    def filesUnder(glob: String): Long = {
      val root = java.nio.file.Paths.get(Layout.partitionedEvents(spark, sf))
      java.nio.file.Files.list(root).filter(_.getFileName.toString.startsWith(glob))
        .flatMap(d => java.nio.file.Files.list(d))
        .filter(_.getFileName.toString.endsWith(".parquet")).count()
    }
    val selected = filesUnder("event_type=purchase") + filesUnder("event_type=view")
    val total = filesUnder("event_type=")
    assert(total > selected, "fixture degenerate: no non-selected partitions to prune")
    assert(read == selected,
      s"scan read $read files; expected only the $selected files of the 2 selected partitions (of $total total)")
  }

  test("q52: partition pruning decided at RUNTIME by the dim filter, not a literal") {
    import org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression
    val df = Layout.q52DppPrune(spark, sf)
    val factScans0 = deepScans(df.queryExecution.executedPlan)
      .filter(_.output.exists(_.name == "user_id")) // dim has no user_id
    assert(factScans0.nonEmpty, "no fact scan in the q52 plan")
    // q47's pruning comes from a literal the user typed; here the fact
    // side has NO event_type predicate at all — the partition filter must
    // be a DynamicPruningExpression fed by the dim's category filter
    assert(factScans0.exists(_.partitionFilters.exists(
        _.exists(_.isInstanceOf[DynamicPruningExpression]))),
      s"no dynamic pruning expression on the fact scan: ${factScans0.map(_.partitionFilters)}")

    // runtime proof: the scan must read ONLY the files of the partitions
    // the dim filter selects — purchase + signup (category 'conversion')
    df.collect()
    val read = deepScans(df.queryExecution.executedPlan)
      .filter(_.output.exists(_.name == "user_id"))
      .map(_.metrics("numFiles").value).sum
    def filesUnder(glob: String): Long = {
      val root = java.nio.file.Paths.get(Layout.partitionedEvents(spark, sf))
      java.nio.file.Files.list(root).filter(_.getFileName.toString.startsWith(glob))
        .flatMap(d => java.nio.file.Files.list(d))
        .filter(_.getFileName.toString.endsWith(".parquet")).count()
    }
    val selected = filesUnder("event_type=purchase") + filesUnder("event_type=signup")
    val total = filesUnder("event_type=")
    assert(total > selected, "fixture degenerate: nothing to prune")
    assert(read == selected,
      s"fact scan read $read files; runtime pruning should leave the $selected files " +
        s"of the 2 dim-selected partitions (of $total total)")
  }

  test("layout rewrites are lossless: q46/q47 match the same query over raw tables") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(12, 2))

    val rawJoin = spark.read.parquet(s"$sf/orders.parquet")
      .join(spark.read.parquet(s"$sf/customer.parquet"), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(sum(dec($"o_totalprice")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy($"c_mktsegment")
    assert(Layout.q46BucketedJoin(spark, sf).collect().toSeq ==
      rawJoin.collect().toSeq)

    val rawEvents = spark.read.parquet(s"$sf/events.parquet")
      .filter($"event_type".isin("purchase", "view"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), countDistinct($"user_id").as("n_users"),
        sum($"event_id").as("id_sum"),
        min($"value").as("min_value"), max($"value").as("max_value"))
      .orderBy($"event_type")
    assert(Layout.q47PartitionPrune(spark, sf).collect().toSeq ==
      rawEvents.collect().toSeq)
  }

  test("two dirs whose paths collide under String.hashCode get independent layouts") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // hash("Aa") == hash("BB"), so <base>/Aa and <base>/BB collide under
    // the 32-bit String.hashCode that used to name the catalog tables —
    // the second dir would silently read the first dir's bucketed data
    val base = tempDir("graft-collide")
    val (dirA, dirB) = (s"$base/Aa", s"$base/BB")
    assert(dirA.hashCode == dirB.hashCode, "fixture must collide under String.hashCode")

    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val customer = spark.read.parquet(s"$sf/customer.parquet")
    // different data per dir: A keeps even order keys, B keeps odd ones
    for ((dir, keep) <- Seq(dirA -> 0, dirB -> 1)) {
      orders.filter($"o_orderkey" % 2 === keep).write.parquet(s"$dir/orders.parquet")
      customer.write.parquet(s"$dir/customer.parquet")
    }
    val nA = Layout.q46BucketedJoin(spark, dirA).agg(sum($"n_orders")).as[Long].head()
    val nB = Layout.q46BucketedJoin(spark, dirB).agg(sum($"n_orders")).as[Long].head()
    val expectA = orders.filter($"o_orderkey" % 2 === 0)
      .join(customer, $"o_custkey" === $"c_custkey").count()
    val expectB = orders.filter($"o_orderkey" % 2 === 1)
      .join(customer, $"o_custkey" === $"c_custkey").count()
    assert(nA == expectA, s"dir A read wrong data: $nA != $expectA")
    assert(nB == expectB, s"dir B read wrong data: $nB != $expectB")
  }

  test("q49: compaction collapses the small-file fixture to the byte-computed target, shuffle-free") {
    import scala.jdk.CollectionConverters._
    val (smallDir, compactDir) = Layout.compactedEvents(spark, sf)
    def parquetFiles(dir: String): Seq[java.nio.file.Path] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try walk.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
      finally walk.close()
    }
    val small = parquetFiles(smallDir)
    val compact = parquetFiles(compactDir)
    assert(small.size == 256, s"small-file fixture should be 256 files, got ${small.size}")
    val bytes = small.map(java.nio.file.Files.size).sum
    val target = math.max(1L, (bytes + Layout.CompactTargetBytes - 1) / Layout.CompactTargetBytes).toInt
    assert(compact.size == target,
      s"compaction must hit the byte-computed file count: ${compact.size} != $target (input $bytes B)")
    assert(compact.size < small.size / 8,
      s"compaction barely compacted: ${small.size} -> ${compact.size}")
    // losslessness at row granularity (values are oracle-gated)
    assert(spark.read.parquet(compactDir).count() == spark.read.parquet(s"$sf/events.parquet").count())
    // the compaction plan itself must move bytes without a shuffle:
    // coalesce merges partitions in place — no Exchange anywhere
    val compactionPlan = spark.read.parquet(smallDir).coalesce(target)
      .queryExecution.executedPlan.toString
    assert(!compactionPlan.contains("Exchange"),
      s"compaction planned a shuffle:\n$compactionPlan")
  }

  test("q50: z-order narrows per-file spans of BOTH columns; predicates reach the scan") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Layout.zorderedEvents(spark, sf)
    val perFile = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg((max($"user_id") - min($"user_id")).as("u_span"),
        (max($"event_id") - min($"event_id")).as("e_span"))
      .agg(count(lit(1)), avg($"u_span"), avg($"e_span")).head()
    val (nFiles, uSpan, eSpan) = (perFile.getLong(0), perFile.getDouble(1), perFile.getDouble(2))
    assert(nFiles >= 4, s"z-order layout produced too few files to cluster: $nFiles")
    val g = spark.read.parquet(s"$sf/events.parquet")
      .agg(max($"user_id") - min($"user_id"), max($"event_id") - min($"event_id")).head()
    val (uGlobal, eGlobal) = (g.getLong(0).toDouble, g.getLong(1).toDouble)
    // the property 1-D sorting cannot have: BOTH dimensions locally narrow
    assert(uSpan < 0.5 * uGlobal,
      s"user_id not clustered: mean per-file span $uSpan vs global $uGlobal")
    assert(eSpan < 0.5 * eGlobal,
      s"event_id not clustered: mean per-file span $eSpan vs global $eGlobal")
    // losslessness at row granularity (values are oracle-gated)
    assert(spark.read.parquet(dir).count() ==
      spark.read.parquet(s"$sf/events.parquet").count())
    // both range predicates must reach the parquet scan as pushed filters,
    // where footer min/max stats turn the clustering into skipped IO
    val scans = deepScans(Layout.q50ZorderCluster(spark, sf).queryExecution.executedPlan)
    assert(scans.nonEmpty, "no parquet scan found in the q50 plan")
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    for (c <- Seq("user_id", "event_id")) {
      assert(pushed.contains(s"GreaterThanOrEqual($c") && pushed.contains(s"LessThanOrEqual($c"),
        s"$c range predicate not pushed to the scan: $pushed")
    }
  }

  test("q50: the scan actually SKIPS files under a selective predicate — measured rows read") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // The span law proves the PREconditions (narrow per-file stats, pushed
    // filters); this proves the payoff: the parquet reader materializes
    // only the row groups whose footer stats overlap the predicate. Scan
    // numOutputRows IS that measure — pushed filters skip row groups
    // before materialization, so skipped rows never reach the metric.
    val zdir = Layout.zorderedEvents(spark, sf)
    def readRows(dir: String, pred: org.apache.spark.sql.Column): Long = {
      val df = spark.read.parquet(dir).where(pred).agg(count(lit(1)))
      df.collect()
      deepScans(df.queryExecution.executedPlan).map(_.metrics("numOutputRows").value).sum
    }
    val total = spark.read.parquet(zdir).count()
    // a narrow single-dimension box: the case 1-D user-sorting cannot help
    val narrow = $"event_id".between(100, 200)
    val zRead = readRows(zdir, narrow)

    val bdir = tempDir("graft-zorder-io-baseline").toString
    try {
      spark.read.parquet(s"$sf/events.parquet")
        .repartitionByRange(Layout.ZorderFiles, $"user_id")
        .sortWithinPartitions($"user_id")
        .write.mode("overwrite").parquet(bdir)
      val bRead = readRows(bdir, narrow)
      info(s"total=$total zRead=$zRead baselineRead=$bRead")
      // the 1-D layout cannot skip on event_id: it materializes ~everything
      assert(bRead > (0.85 * total).toLong,
        s"control degenerate: 1-D layout skipped on event_id ($bRead of $total)")
      // the z-ordered layout must genuinely skip: well under half the table
      assert(zRead < (0.5 * total).toLong,
        s"z-order scan materialized $zRead of $total rows — no IO actually skipped")
      assert(zRead < bRead / 2,
        s"z-order read $zRead vs 1-D $bRead — layout made no IO difference")
    } finally {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(bdir))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } finally walk.close()
    }
  }

  test("q50 baseline: a 1-D sort leaves the OTHER column's per-file span wide") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // negative control for the span metric: range-partition by user_id
    // alone, and event_id must stay near-global-width in every file —
    // the shape z-order exists to avoid
    val dir = tempDir("graft-zorder-baseline").toString
    try {
      spark.read.parquet(s"$sf/events.parquet")
        .repartitionByRange(Layout.ZorderFiles, $"user_id")
        .sortWithinPartitions($"user_id")
        .write.mode("overwrite").parquet(dir)
      val span = spark.read.parquet(dir)
        .groupBy(input_file_name()).agg((max($"event_id") - min($"event_id")).as("e_span"))
        .agg(avg($"e_span")).head().getDouble(0)
      val global = spark.read.parquet(s"$sf/events.parquet")
        .agg(max($"event_id") - min($"event_id")).head().getLong(0).toDouble
      assert(span > 0.8 * global,
        s"1-D sort unexpectedly clustered event_id (span $span vs global $global) — " +
          "the q50 span assertion would not discriminate")
    } finally {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } finally walk.close()
    }
  }

  // ------------------------------------------------- torn-write safety
  // A crash mid-`write.parquet` leaves a root without `_SUCCESS`. The
  // cache must detect that on the next hit and rebuild instead of
  // serving the half-written layout. One case per cached rewrite.

  private def successMarker(dir: String) = java.nio.file.Paths.get(dir, "_SUCCESS")
  private def tear(dir: String): Unit =
    assert(java.nio.file.Files.deleteIfExists(successMarker(dir)),
      s"fixture: expected a _SUCCESS marker to tear in $dir")

  test("torn zorder layout: missing _SUCCESS forces a rebuild") {
    val r1 = Layout.zorderedEvents(spark, sf)
    tear(r1)
    val r2 = Layout.zorderedEvents(spark, sf)
    assert(r2 != r1, "cache served the torn root instead of rebuilding")
    assert(java.nio.file.Files.exists(successMarker(r2)), s"rebuilt root not committed: $r2")
    assert(spark.read.parquet(r2).count() ==
      spark.read.parquet(s"$sf/events.parquet").count())
  }

  test("torn partitioned layout: missing _SUCCESS forces a rebuild") {
    val r1 = Layout.partitionedEvents(spark, sf)
    tear(r1)
    val r2 = Layout.partitionedEvents(spark, sf)
    assert(r2 != r1, "cache served the torn root instead of rebuilding")
    assert(java.nio.file.Files.exists(successMarker(r2)))
  }

  test("torn dim layout: missing _SUCCESS forces a rebuild") {
    val r1 = Layout.eventTypeDim(spark, sf)
    tear(r1)
    val r2 = Layout.eventTypeDim(spark, sf)
    assert(r2 != r1, "cache served the torn root instead of rebuilding")
    assert(java.nio.file.Files.exists(successMarker(r2)))
  }

  test("torn compacted layout: tearing EITHER output dir forces a full rebuild") {
    val (small1, compact1) = Layout.compactedEvents(spark, sf)
    tear(small1) // the compact dir alone committing must not validate the pair
    val (small2, compact2) = Layout.compactedEvents(spark, sf)
    assert(small2 != small1 && compact2 != compact1,
      "cache served a pair with a torn member instead of rebuilding")
    assert(java.nio.file.Files.exists(successMarker(small2)))
    assert(java.nio.file.Files.exists(successMarker(compact2)))
  }

  test("torn bucketed layout: missing _SUCCESS under the table path forces a rebuild") {
    val (ot, _) = Layout.bucketedTables(spark, sf)
    def ordersDir: String = new java.io.File(
      new java.net.URI(spark.table(ot).inputFiles.head)).getParentFile.toString
    val d1 = ordersDir
    tear(d1)
    val (ot2, ct2) = Layout.bucketedTables(spark, sf)
    assert(ot2 == ot, "table names are content-derived and must be stable")
    val d2 = ordersDir
    assert(d2 != d1, "catalog table still points at the torn root")
    assert(java.nio.file.Files.exists(successMarker(d2)))
    assert(spark.catalog.tableExists(ot2) && spark.catalog.tableExists(ct2))
    assert(Layout.q46BucketedJoin(spark, sf).count() > 0)
  }

  test("concurrent callers after a tear: one rebuild, every caller gets the committed root") {
    import scala.jdk.CollectionConverters._
    val r1 = Layout.partitionedEvents(spark, sf)
    tear(r1)
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def rootCount: Long = {
      val l = java.nio.file.Files.list(tmp)
      try l.iterator().asScala.count(_.getFileName.toString.startsWith("graft-layout-parts"))
      finally l.close()
    }
    val before = rootCount
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map(_ => pool.submit(
        new java.util.concurrent.Callable[String] {
          def call(): String = Layout.partitionedEvents(spark, sf)
        }))
        .map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(results.toSet.size == 1, s"racers saw different roots: ${results.toSet}")
      assert(results.head != r1, "racers were served the torn root")
      assert(java.nio.file.Files.exists(successMarker(results.head)))
      // the compute-under-lock contract: the 8 racers paid ONE rebuild
      assert(rootCount == before + 1,
        s"expected exactly one new layout root, got ${rootCount - before}")
    } finally pool.shutdownNow()
  }

  test("catalog churn: a dropped bucketed table is re-registered, not trusted from cache") {
    val (ot, ct) = Layout.bucketedTables(spark, sf)
    spark.sql(s"DROP TABLE `$ot`")
    // the parquet data still exists and carries _SUCCESS — only the
    // catalog entry is gone, which is exactly what a fresh catalog after
    // spark.stop() looks like to a content-keyed cache
    val (ot2, ct2) = Layout.bucketedTables(spark, sf)
    assert(spark.catalog.tableExists(ot2) && spark.catalog.tableExists(ct2),
      "rebuild did not re-register the catalog tables")
    assert(Layout.q46BucketedJoin(spark, sf).count() > 0)
    assert(ct2 == ct)
  }

  test("session churn: a sibling session reuses the content-keyed layouts safely") {
    val r1 = Layout.partitionedEvents(spark, sf)
    val s2 = spark.newSession()
    // content key (no session identity): the sibling session must HIT the
    // cache for plain-parquet layouts rather than paying a second rewrite
    assert(Layout.partitionedEvents(s2, sf) == r1)
    // and the catalog-backed layout works end-to-end from the sibling
    // (shared SharedState means the tables resolve there too)
    assert(Layout.q46BucketedJoin(s2, sf).count() > 0)
    assert(Layout.q52DppPrune(s2, sf).count() > 0)
  }

  test("cleanup drops every layout table and deletes the layout temp dirs") {
    Layout.q46BucketedJoin(spark, sf).collect()
    val rewritten = Layout.partitionedEvents(spark, sf)
    assert(spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_bucketed_")), "fixture: no layout tables to clean")
    Layout.cleanup(spark)
    val leaked = spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_bucketed_")).map(_.name)
    assert(leaked.isEmpty, s"leaked layout tables: ${leaked.mkString(", ")}")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(rewritten)),
      s"layout temp dir survived cleanup: $rewritten")
    // and the next query call re-prepares from scratch
    assert(Layout.q46BucketedJoin(spark, sf).count() > 0)
  }
}

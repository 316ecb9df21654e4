package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Relational2
import graft.SuiteTempDirs

/** Round-2 operator specs: properties the DuckDB oracle can't express —
  * planted-fixture behavior (CC transitivity, redaction, quantization
  * error bounds), conservation invariants (packing), and plan-shape
  * assertions (the time-series joins must never degenerate into a
  * nested-loop join, which is the difference between running and not
  * running at 100 TB). */
class Round2OpsSpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private val sf = "/root/testdata/sf0.001"

  /** Plant a documents table in a temp dir so the table-bound operators
    * run on fixture content. */
  private def plantDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tempDir("graft-r2docs").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fixture"))
      .withColumn("n_chars", length($"text").cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("dedup_cc merges a transitive near-dup chain into one cluster") {
    // zero-padded tokens: plain replace must not hit other tokens by prefix
    val base = (1 to 40).map(i => f"tok$i%02d").mkString(" ")
    val variantB = base.replace("tok40", "tokX") // A~B high jaccard
    val variantC = variantB.replace("tok01", "tokY") // B~C high, A~C lower
    val dir = plantDocs(Seq(
      10L -> base, 20L -> variantB, 30L -> variantC,
      99L -> "completely unrelated words about catalyst physical planning"))
    val out = Dedup.dedupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSet == Set((10L, 10L, 3L), (20L, 10L, 3L), (30L, 10L, 3L)),
      s"expected one 3-doc cluster rooted at 10, got ${out.mkString(",")}")
  }

  test("dedup_cc collapses a diameter-79 chain (pointer-doubling, not O(diameter) rounds)") {
    // sliding 40-token windows over one token stream: consecutive docs
    // share 39/40 tokens (3-gram jaccard ~0.95), ends share nothing
    val stream = (1 to 120).map(i => f"w$i%03d")
    val dir = plantDocs((0 until 80).map { i =>
      (i + 1).toLong -> stream.slice(i, i + 40).mkString(" ")
    })
    val out = Dedup.dedupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 80 && out.forall { case (_, cid, sz) => cid == 1L && sz == 80L },
      s"80-doc chain must collapse into one cluster rooted at 1: ${out.take(5).mkString(",")}...")
  }

  test("dedup_keep_canonical keeps the longest copy per cluster, singletons survive") {
    val base = (1 to 40).map(i => f"tok$i%02d").mkString(" ")
    val longer = base + " extrapad" // same cluster, more chars => canonical
    val variantC = base.replace("tok01", "tokY")
    val dir = plantDocs(Seq(
      10L -> base, 20L -> longer, 30L -> variantC,
      99L -> "completely unrelated words about catalyst physical planning"))
    val out = Dedup.dedupKeepCanonical(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(out == Set(
      (10L, 10L, 3L, false), // clustered, shorter than 20
      (20L, 10L, 3L, true),  // longest in the cluster wins
      (30L, 10L, 3L, false),
      (99L, 99L, 1L, true)), // singleton: own cluster, survives
      s"got ${out.mkString(",")}")
  }

  test("pack_sequences conserves tokens and packs contiguous doc ranges") {
    val packs = PipelineOps.packSequences(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
      .agg(sum(col("n"))).head.getLong(0)
    assert(packs.map(_.getLong(2)).sum == docs, "token totals must be conserved")
    // doc ranges must be contiguous and ordered across packs
    val sorted = packs.sortBy(_.getLong(0))
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(4) < b.getLong(3), "pack doc ranges must not overlap")
      case _ =>
    }
    // every pack starts at the window its first token falls in: pack ids
    // are the running-sum prefix divided by the context length
    assert(sorted.head.getLong(0) == 0L)
  }

  test("pii_redact scrubs planted emails and digit runs") {
    val dir = plantDocs(Seq(
      1L -> "contact alice.smith+x@example.co.uk or call 5551234567 now",
      2L -> "no pii here at all"))
    val rows = PipelineOps.piiRedact(spark, dir).collect()
    assert(rows(0).getString(1) == "contact <EMAIL> or call <NUM> now")
    assert(rows(0).getInt(2) == 1 && rows(0).getInt(3) == 1)
    assert(rows(1).getString(1) == "no pii here at all")
    assert(rows(1).getInt(2) == 0 && rows(1).getInt(3) == 0)
  }

  test("emb_quantize_int8 bounds reconstruction error by half a step") {
    val out = PipelineOps.embQuantizeInt8(spark, sf)
    val orig = spark.read.parquet(s"$sf/embeddings.parquet")
    val joined = out.join(orig, "vec_id").select(
      col("vec_id"), col("mn"), col("mx"), col("q_csv"), col("embedding")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val mn = r.getDouble(1); val mx = r.getDouble(2)
      // the gate serializes the vector as CSV; decode it back for the bound
      val q = r.getString(3).split(",").toSeq.map(_.toInt)
      val emb = r.getSeq[Float](4)
      assert(q.forall(v => v >= 0 && v <= 255))
      if (mx > mn) {
        val step = (mx - mn) / 255.0
        q.zip(emb).foreach { case (qi, x) =>
          val recon = mn + qi * step
          assert(math.abs(recon - x) <= step / 2 + 1e-9,
            s"vec ${r.getLong(0)}: |$recon - $x| > $step/2")
        }
      } else assert(q.forall(_ == 0))
    }
  }

  test("split_train_val is content-independent and deterministic") {
    val a = PipelineOps.splitTrainVal(spark, sf).collect()
    val b = PipelineOps.splitTrainVal(spark, sf).collect()
    assert(a.sameElements(b))
    val byName = a.map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = byName.values.sum
    // 90/10 within generous binomial slack
    assert(byName("train").toDouble / total > 0.8 && byName("train").toDouble / total < 0.97)
  }

  test("chunk_documents: full coverage, exact overlap, shuffle-free plan") {
    val dir = plantDocs(Seq(
      1L -> ("x" * 150 + "y" * 150 + "z" * 50), // 350 chars -> 3 chunks
      2L -> "short doc under one window"))      // 26 chars -> 1 chunk
    val out = PipelineOps.chunkDocuments(spark, dir).collect()
    val byDoc = out.groupBy(_.getLong(0))
    val c1 = byDoc(1L).sortBy(_.getLong(1))
    assert(c1.map(_.getLong(4)).toSeq == Seq(200L, 200L, 50L))
    assert(c1.map(_.getLong(2)).toSeq == Seq(1L, 151L, 301L))
    // reconstruction: the step-sized prefix of every chunk but the last,
    // plus the whole last chunk, is exactly the document — nothing lost,
    // nothing duplicated beyond the declared 50-char overlap
    val text = c1.dropRight(1).map(_.getString(3).take(PipelineOps.ChunkStep)).mkString +
      c1.last.getString(3)
    assert(text == "x" * 150 + "y" * 150 + "z" * 50)
    // consecutive full chunks overlap by exactly window - step chars
    assert(c1(0).getString(3).drop(PipelineOps.ChunkStep) ==
      c1(1).getString(3).take(PipelineOps.ChunkWindow - PipelineOps.ChunkStep))
    val c2 = byDoc(2L)
    assert(c2.length == 1 && c2.head.getLong(4) == 26L)
    // scale law: chunking is a narrow map — no hash exchange anywhere
    // (the only exchange is the presentation sort's range partitioning)
    val plan = PipelineOps.chunkDocuments(spark, dir).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"chunking planned a hash shuffle:\n$plan")
  }

  test("stratified_sample: salted two-phase equals the naive window, bounded phase 2") {
    import spark.implicits._
    val out = PipelineOps.stratifiedSample(spark, sf).collect()
    // exact-N (or stratum size) per stratum, ranks contiguous from 1
    out.groupBy(_.getString(0)).foreach { case (st, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to rows.length).toSeq, st)
      assert(rows.length <= PipelineOps.StratumN)
    }
    // the two-phase result must be IDENTICAL to the naive single-window
    // spelling (the salting is a pure execution-strategy change)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"h", $"event_id")
    val naive = spark.read.parquet(s"$sf/events.parquet")
      .select($"event_type", $"event_id", md5($"event_id".cast("string")).as("h"))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter($"sample_rank" <= PipelineOps.StratumN)
      .select($"event_type", $"sample_rank", $"event_id", $"h")
      .orderBy($"event_type", $"sample_rank").collect()
    assert(out.toSeq == naive.toSeq)
    // plan shape: two Window nodes (per-salt then per-stratum), so the
    // full-data window never runs single-task-per-stratum
    val plan = PipelineOps.stratifiedSample(spark, sf).queryExecution.executedPlan.toString
    assert("Window ".r.findAllIn(plan).size == 2, s"expected 2 windows:\n$plan")
    assert(plan.contains("pmod"), s"phase-1 window lost its salt:\n$plan")
  }

  test("budget_select: two-phase prefix sum equals the naive global window, greedy-maximal") {
    import spark.implicits._
    val out = PipelineOps.budgetSelect(spark, sf).collect()
    assert(out.nonEmpty, "budget fixture degenerate: nothing selected")
    // the scalable spelling (range partition + local cumsum + offsets
    // lift) must produce the exact global running sums of the naive
    // single-task window — the property the offsets table exists for
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"quality".desc, $"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val scored = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id",
        size(array_distinct(split(trim($"text"), "\\s+"))).cast("long").as("quality"),
        size(split(trim($"text"), "\\s+")).cast("long").as("ntok"))
    val naive = scored.withColumn("cum", sum($"ntok").over(w))
      .filter($"cum" <= PipelineOps.BudgetTokens)
      .select($"doc_id", $"quality", $"ntok", $"cum")
      .orderBy($"cum").collect()
    assert(out.toSeq == naive.toSeq)
    // greedy-maximal: the next document in quality order would bust the budget
    val nextCum = scored.withColumn("cum", sum($"ntok").over(w))
      .filter($"cum" > PipelineOps.BudgetTokens)
      .agg(min($"cum")).head().getLong(0)
    assert(nextCum > PipelineOps.BudgetTokens &&
      out.map(_.getLong(3)).max <= PipelineOps.BudgetTokens)
  }

  test("as-of and range joins never plan a nested-loop join") {
    Seq(Relational2.q34AsofJoin(spark, sf), Relational2.q35RangeJoin(spark, sf))
      .foreach { df =>
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
          s"time-series join degenerated into a nested loop:\n$plan")
      }
  }

  test("approx sketches stay within 5% of exact cardinalities") {
    import spark.implicits._
    val approx = Relational2.q42ApproxSketches(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = spark.read.parquet(s"$sf/events.parquet")
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("u"), countDistinct($"event_id").as("e"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, (u, e)) =>
      val (au, ae) = approx(k)
      assert(math.abs(au - u).toDouble / u <= 0.05, s"$k users: $au vs $u")
      assert(math.abs(ae - e).toDouble / e <= 0.05, s"$k events: $ae vs $e")
    }
  }

  test("q42 sketch bound keeps the NULL event_type group, like the fused aggregate") {
    import spark.implicits._
    val ev = Seq[(Long, Long, String)]((1L, 10L, "click"), (2L, 11L, "click"),
      (3L, 10L, null), (4L, 12L, null), (5L, 13L, "view"))
      .toDF("event_id", "user_id", "event_type")
    val fused = ev.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("exact_users"), countDistinct($"event_id").as("exact_events"),
        approx_count_distinct($"user_id", 0.02).as("au"), approx_count_distinct($"event_id", 0.02).as("ae"))
      .select($"event_type", $"exact_users", $"exact_events",
        (abs($"au" - $"exact_users") <= $"exact_users" * 0.05).as("users_in_bound"),
        (abs($"ae" - $"exact_events") <= $"exact_events" * 0.05).as("events_in_bound"))
      .orderBy($"event_type")
    val split = Relational2.q42SketchBoundOf(ev)
    assert(split.columns.toSeq == fused.columns.toSeq)
    val got = split.collect().toSeq
    assert(got == fused.collect().toSeq)
    assert(got.exists(_.isNullAt(0)), s"NULL event_type group dropped: $got")
  }

  test("approx quantiles land inside the exact p±0.01 discrete bracket") {
    // spec-time replica of the q51_quantile_bound oracle gate: every GK
    // estimate (rank error <= n/10000) must sit between the exact
    // discrete percentile values at p-0.01 and p+0.01
    val rows = Relational2.q51QuantileBound(spark, sf).collect()
    assert(rows.length == 5, s"expected 5 priority classes, got ${rows.length}")
    rows.foreach { r =>
      for (i <- 5 to 7)
        assert(r.getBoolean(i), s"${r.getString(0)} quantile out of bound: $r")
    }
  }

  test("approx quantiles are mergeable: the rank bound survives any partitioning") {
    // the GK analogue of the HLL mergeability law — weaker on purpose:
    // HLL merge is commutative (exact equality holds across splits), GK
    // merge is only guarantee-preserving (arrival order may perturb the
    // estimate WITHIN the rank bound), so the law is that every split
    // still lands inside the exact p±0.01 bracket, not that estimates
    // are bit-identical
    import spark.implicits._
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_orderpriority").orderBy($"o_totalprice")
    val bracket = orders.withColumn("cd", cume_dist().over(w))
      .groupBy($"o_orderpriority")
      .agg(min(when($"cd" >= 0.49, $"o_totalprice")).as("lo"),
        min(when($"cd" >= 0.51, $"o_totalprice")).as("hi"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    for (in <- Seq(orders, orders.repartition(1), orders.repartition(7, $"o_custkey"))) {
      in.groupBy($"o_orderpriority")
        .agg(percentile_approx($"o_totalprice", lit(0.5), lit(10000)).as("a50"))
        .collect().foreach { r =>
          val (lo, hi) = bracket(r.getString(0))
          val a = r.getDouble(1)
          assert(a >= lo && a <= hi,
            s"${r.getString(0)}: p50 estimate $a outside exact bracket [$lo, $hi]")
        }
    }
  }

  test("approx quantiles plan single-pass: partial agg, no window sort") {
    // the plan-shape half of the q51 scale claim: the exact path (q33 /
    // q51_quantile_bound) needs a per-group sort under a Window; the GK
    // path must instead show a map-side partial percentile_approx and no
    // Window at all — that difference IS why it's the 100 TB operator
    val plan = Relational2.q51ApproxQuantiles(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_percentile_approx"),
      s"no map-side partial GK aggregation in the plan:\n$plan")
    assert(!plan.contains("Window"), s"approx path planned a window sort:\n$plan")
  }

  test("q53: the optimizer injects a runtime bloom filter that prunes BEFORE the shuffle") {
    val df = Relational2.q53BloomJoin(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // creation side: a distributed two-phase bloom aggregate over the
    // filtered dim keys (q39 builds its bloom with the same aggregate,
    // explicitly; here the optimizer injects it)
    assert(plan.contains("partial_bloom_filter_agg") && plan.contains("bloom_filter_agg"),
      s"no distributed bloom_filter_agg in the plan:\n$plan")
    // probe side: a codegen'd might_contain filter on the fact table
    assert(plan.contains("might_contain"), s"no might_contain probe in the plan:\n$plan")
    // the probe must sit BELOW lineitem's exchange — pruning after the
    // shuffle would defeat the technique (check textual order: the filter
    // line appears under the fact side's Exchange hashpartitioning)
    val factExchange = plan.linesIterator.indexWhere(l =>
      l.contains("Exchange hashpartitioning(l_orderkey"))
    val probe = plan.linesIterator.indexWhere(_.contains("might_contain"))
    assert(factExchange >= 0 && probe > factExchange,
      s"might_contain probe not below the fact-side exchange (exchange@$factExchange, probe@$probe)")

    // and it actually prunes: the probe-side Filter passes well under the
    // full fact table (1-URGENT selects ~20% of orders)
    df.collect()
    def deep(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val inner: Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: inner.flatMap(deep)
    }
    val probeFilter = deep(df.queryExecution.executedPlan).collectFirst {
      case f: org.apache.spark.sql.execution.FilterExec
        if f.condition.toString.contains("might_contain") => f
    }
    assert(probeFilter.isDefined, "no executed might_contain FilterExec found")
    val passed = probeFilter.get.metrics("numOutputRows").value
    val total = spark.read.parquet(s"$sf/lineitem.parquet").count()
    assert(passed < (total * 0.4).toLong,
      s"bloom probe passed $passed of $total fact rows — runtime filter pruned nothing")

    // negative control: without a selective dim predicate the optimizer
    // must NOT inject (nothing to gain — the bloom would pass everything)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    val control = graft.queries.Tables.lineitem(s2, sf)
      .join(graft.queries.Tables.orders(s2, sf), $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
    assert(!control.queryExecution.executedPlan.toString.contains("might_contain"),
      "control without a selective filter still planned a bloom probe")
  }

  test("approx sketches are mergeable: cardinalities are partitioning-independent") {
    // The law that makes HLL usable at 100 TB: the per-partition partial
    // sketches merge associatively+commutatively, so the final estimate
    // cannot depend on HOW the data was split across executors. Observable
    // externally as: any repartitioning of the input — one partition, a
    // skewed hash split, full fan-out — yields IDENTICAL estimates. A
    // non-mergeable "sketch" (e.g. per-partition sampling) fails this.
    import spark.implicits._
    val events = spark.read.parquet(s"$sf/events.parquet")
    def sketch(in: org.apache.spark.sql.DataFrame): Seq[String] =
      in.groupBy($"event_type")
        .agg(approx_count_distinct($"user_id").as("u"),
          approx_count_distinct($"event_id").as("e"))
        .orderBy($"event_type").collect().map(_.toString).toSeq
    val whole = sketch(events)
    assert(sketch(events.repartition(1)) == whole, "single-partition run diverged")
    assert(sketch(events.repartition(7, $"user_id")) == whole, "hash-split run diverged")
    assert(sketch(events.repartition(31, $"event_id" % 3)) == whole, "skewed-split run diverged")
    // union-merge form of the same law: sketch(A union B) == sketch over
    // the halves' partials (Spark's partial agg IS the merge path)
    val a = events.filter($"event_id" % 2 === 0)
    val b = events.filter($"event_id" % 2 =!= 0)
    assert(sketch(a.unionByName(b)) == whole, "union of disjoint halves diverged")
  }

  test("kmeans: deterministic, covers all vectors, and descends from the init WCSS") {
    val a = Clustering.embKmeans(spark, sf).collect()
    val b = Clustering.embKmeans(spark, sf).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq, "re-run must be identical")
    val total = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(a.map(_.getLong(1)).sum == total, "every vector assigned exactly once")
    val wcss = a.map(_.getDouble(2)).sum
    val wcss0 = Clustering.initialWcss(spark, sf)
    assert(wcss <= wcss0, s"Lloyd iterations must not increase WCSS: $wcss > $wcss0")
    assert(wcss > 0.0)
  }

  test("product quantization: deterministic, codes within budget, full coverage") {
    val a = Clustering.embPq(spark, sf).collect()
    val b = Clustering.embPq(spark, sf).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq, "re-run must be identical")
    val total = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(a.length == 4)
    a.foreach { r =>
      assert(r.getLong(1) <= 16, "at most K codes per subspace")
      assert(r.getLong(3) == total, "every vector coded in every subspace")
      assert(r.getDouble(2) > 0.0)
    }
  }

  test("source_centroids: exact per-source per-dim means, docs without embeddings excluded") {
    import spark.implicits._
    val dir = tempDir("graft-srccent").toString
    Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c"))
      .toDF("doc_id", "source")
      .withColumn("text", lit("t")).withColumn("lang", lit("en"))
      .withColumn("n_chars", lit(1L))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // doc 4 has no embedding row -> source c must not appear
    Seq(
      (1L, Array(1.0f, -2.0f)), (2L, Array(3.0f, 4.0f)),
      (3L, Array(0.5f, 0.25f)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Clustering.sourceCentroids(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got == Map(
      ("a", 0L) -> ((2L, 2.0)), ("a", 1L) -> ((2L, 1.0)),
      ("b", 0L) -> ((1L, 0.5)), ("b", 1L) -> ((1L, 0.25))), got.toString)
  }

  test("tfidf ranks a document's distinctive term above corpus-common terms") {
    // tf/df: unique terms score 2/1 = 2.0, shared scores 3/3 = 1.0
    val dir = plantDocs(Seq(
      1L -> "shared shared shared unique1 unique1",
      2L -> "shared shared shared unique2 unique2",
      3L -> "shared shared shared unique3 unique3"))
    val top1 = PipelineOps.tfidfTopTerms(spark, dir)
      .filter(col("rk") === 1).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(top1 == Map(1L -> "unique1", 2L -> "unique2", 3L -> "unique3"))
  }

  test("q56_funnel: strict order required, same-microsecond is not 'after', zeros report") {
    import spark.implicits._
    val dir = tempDir("graft-funnel").toString
    val us = 1000L // one microsecond in nanos
    Seq(
      (1L, "view", 1 * us), (1L, "click", 2 * us), (1L, "purchase", 3 * us), // full funnel
      (2L, "purchase", 1 * us), (2L, "view", 2 * us), (2L, "click", 3 * us), // purchase BEFORE view -> depth 2
      (3L, "view", 1 * us),                                                  // depth 1
      (4L, "click", 1 * us),                                                 // never viewed -> depth 0
      (5L, "view", 1 * us), (5L, "click", 1 * us))                           // same microsecond: NOT after -> depth 1
      .toDF("user_id", "event_type", "ts")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.queries.Relational2.q56Funnel(spark, dir).collect()
      .map(r => r.getInt(0) -> (r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(got(1) == ((4L, 1L)), s"depth 1 must be users 1,2,3,5: $got")
    assert(got(2) == ((2L, 1L)), s"depth 2 must be users 1,2 (order within later steps ok): $got")
    assert(got(3) == ((1L, 1L)), s"depth 3 must be user 1 only (user 2's purchase precedes the view): $got")
  }

  test("split_leakage: reports exactly the groups whose copies straddle the split") {
    // independent md5 reimplementation of the split rule: the test derives
    // the expected leak set without calling any operator code
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 4)
      java.lang.Long.parseLong(hex, 16) % 100
    }
    def isTrain(id: Long): Boolean = bucket(id) < 90
    val dir = plantDocs((1L to 10L).map(i => i -> s"unique text body number $i"))
    // the operator stages a copy (id + 1,000,000) of every doc_id < 60;
    // a group leaks iff original and copy land on different sides
    val expected = (1L to 10L)
      .filter(i => isTrain(i) != isTrain(i + 1000000L)).toSet
    val got = PipelineOps.splitLeakage(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSet == expected, s"leaked groups: $got expected reps $expected")
    got.foreach { case (rep, nTrain, nVal) =>
      assert(nTrain == 1L && nVal == 1L, s"each planted group is 1 orig + 1 copy: $got")
      assert(rep <= 10L, s"representative must be the original id: $got")
    }
  }

  test("domain_cap_sample: over-cap domain thinned, under-cap kept whole, layout-invariant") {
    import spark.implicits._
    def plant(partitions: Int): String = {
      val dir = tempDir("graft-capsample").toString
      val rows = (1L to 400L).map(i => (i, s"big doc $i", "big")) ++
        (401L to 450L).map(i => (i, s"small doc $i", "small"))
      val df = rows.toDF("doc_id", "text", "lang")
        .withColumn("source", lit("fixture"))
        .withColumn("n_chars", length($"text").cast("long"))
      (if (partitions == 1) df.coalesce(1) else df.repartition(partitions))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    val a = PipelineOps.domainCapSample(spark, plant(1)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // small (50 <= cap 100): rate 1, kept whole
    assert(a("small") == ((50L, 50L)), a.toString)
    // big (400 > cap): rate sqrt(100/400) = 0.5; md5 buckets uniform, so
    // kept ~ Binomial(400, 0.5) — deterministic, and far from 0 or 400
    val (bigIn, bigKept) = a("big")
    assert(bigIn == 400L && bigKept > 150L && bigKept < 250L, a.toString)
    // acceptance is per-document content, so file layout must not matter
    val b = PipelineOps.domainCapSample(spark, plant(7)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(a == b, s"sample changed with file layout: $a vs $b")
  }

  test("domain_cap_sample conserves counts: kept <= in per domain, ins sum to the corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val total = docs.count()
    val rows = PipelineOps.domainCapSample(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._2).sum == total, s"n_in must partition the corpus: ${rows.mkString(", ")}")
    rows.foreach { case (lang, nIn, nKept) =>
      assert(nKept <= nIn, s"$lang kept more than arrived: ${rows.mkString(", ")}")
      if (nIn <= PipelineOps.DomainCap)
        assert(nKept == nIn, s"under-cap domain $lang must keep everything: ${rows.mkString(", ")}")
    }
  }

  test("bpe_pair_counts: corpus-weighted pairs, single-char words excluded, tie-break") {
    // words: "ab" x3 (two docs), "bc" x1, "a" x1 (no pairs), "abc" x1
    val dir = plantDocs(Seq(
      1L -> "ab ab bc a",
      2L -> "ab abc"))
    val got = TextAnalysis.bpePairCounts(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // "a b": 3 (from ab x3) + 1 (from abc) = 4; "b c": 1 (bc) + 1 (abc) = 2
    assert(got == Seq(("a b", 4L), ("b c", 2L)), got.toString)
  }

  test("top_ngrams: document frequency (not term frequency), deterministic tie-break") {
    val dir = plantDocs(Seq(
      1L -> "the end is near",
      // within-doc repeat of "the end" must count ONCE toward df
      2L -> "the end the end",
      3L -> "the end again"))
    val got = TextAnalysis.topNgrams(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.head == (("the end", 3L)), got.toString)
    // df=1 bigrams tie: must come back in lexicographic order
    assert(got.tail == Seq(("end again", 1L), ("end is", 1L),
      ("end the", 1L), ("is near", 1L)), got.toString)
  }
}

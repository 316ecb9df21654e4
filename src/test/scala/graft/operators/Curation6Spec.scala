package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** Planted-scenario laws for the Curation6 operators, q63, and the ANN
  * recall row: profiling must count nulls/distincts exactly off ONE scan,
  * the wildcard join must be complete AND duplicate-free on a planted
  * Hamming-1/Hamming-2 mix, rolling WAU must honor the 7-day bound, and
  * ann_recall must equal an independently computed set intersection.
  */
class Curation6Spec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.codegen.maxFields", "256")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  test("profile_columns: exact null/distinct/min/max off a planted frame") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c6prof").toString
    Seq((1L, "b", "en", "s1", 1L), (2L, "a", "en", "s2", 1L),
      (3L, null.asInstanceOf[String], "en", "s1", 0L), (4L, "a", "de", "s2", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Curation6.profileColumns(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    assert(got("text") == ((4L, 1L, 2L, "a", "b")), s"text: ${got("text")}")
    assert(got("lang") == ((4L, 0L, 2L, "de", "en")), s"lang: ${got("lang")}")
    assert(got("doc_id") == ((4L, 0L, 4L, "1", "4")), s"doc_id: ${got("doc_id")}")
  }

  test("profile_columns plan law: ONE scan profiles every column (unpivot, not per-column jobs)") {
    val plan = Curation6.profileColumns(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected exactly 1 parquet scan, got $scans:\n$plan")
  }

  test("fuzzy_join_wildcard: complete on Hamming-1, silent on Hamming-2 and dist-0, no duplicate pairs") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c6fuzzy").toString
    Seq((1L, "ABCD"), (2L, "ABCE"), (3L, "ABFF"), (4L, "XBCD"), (5L, "ABCD"))
      .toDF("c_custkey", "c_name")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = Curation6.fuzzyJoinWildcard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    // Hamming-1 pairs: (1,2) differ at pos 4, (1,4) at pos 1,
    // (2,5)="ABCE"/"ABCD" at pos 4, (4,5)="XBCD"/"ABCD" at pos 1.
    // (3,*) is Hamming-2 from everything. (1,5) are IDENTICAL
    // (dist 0): they match at every mask position but must be excluded by
    // the strict dist === 1 verify — an identical pair would otherwise
    // emit length(name)=4 duplicate rows and break the one-row-per-pair
    // contract vs the cross-join oracle.
    // A Hamming-1 pair matching at exactly one mask appears exactly once —
    // the no-duplicate law that lets the operator skip a distinct.
    assert(got.toSeq == Seq((1L, 2L, 1L), (1L, 4L, 1L), (2L, 5L, 1L), (4L, 5L, 1L)),
      s"got: ${got.mkString(", ")}")
  }

  test("fuzzy_join_wildcard plan law: equi-join on the masked key, no cartesian/BNLJ") {
    val plan = Curation6.fuzzyJoinWildcard(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q63_rolling_active: WAU honors the trailing 7-day bound") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c6q63").toString
    val t0 = java.time.LocalDateTime.of(2026, 3, 1, 12, 0, 0)
    Seq(
      (1L, t0, 1L), (2L, t0, 2L),              // day d0: u1, u2
      (3L, t0.plusDays(2), 1L),                // day d0+2: u1
      (4L, t0.plusDays(10), 3L))               // day d0+10: u3 only (d0 aged out)
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = graft.queries.Relational3.q63RollingActive(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val d0 = rows.head._1
    assert(rows.toSeq == Seq(
      (d0, 2L, 2L),        // dau {u1,u2}; wau window [d0-6,d0] = {u1,u2}
      (d0 + 2, 1L, 2L),    // dau {u1}; wau window covers d0 -> {u1,u2}
      (d0 + 10, 1L, 1L)),  // d0/d0+2 are 8+ days back: only u3 — the bound
      s"got: ${rows.mkString(", ")}")
  }

  test("q64_retention_cohorts: first-active day defines the cohort; a day counts once per user") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c6q64").toString
    val t0 = java.time.LocalDateTime.of(2026, 3, 1, 8, 0, 0)
    Seq(
      (1L, t0, 1L), (2L, t0.plusHours(5), 1L), // u1 twice on d0 -> one count
      (3L, t0.plusDays(3), 1L),                // u1 back at offset 3
      (4L, t0.plusDays(1), 2L),                // u2's cohort is d0+1
      (5L, t0.plusDays(4), 2L))                // u2 at offset 3
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = graft.queries.Relational3.q64RetentionCohorts(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val d0 = rows.head._1
    assert(rows.toSeq == Seq(
      (d0, 0L, 1L), (d0, 3L, 1L),
      (d0 + 1, 0L, 1L), (d0 + 1, 3L, 1L)),
      s"got: ${rows.mkString(", ")}")
  }

  test("misra-gries kernel: bounded size, superset guarantee on a skewed stream") {
    val stream = Seq.fill(400)("hot") ++ (1 to 1000).map(i => s"cold$i")
    val rnd = new scala.util.Random(7)
    val (n, m) = Sketches.misraGries(rnd.shuffle(stream).iterator, Sketches.HhK - 1)
    assert(n == 1400L)
    assert(m.size <= Sketches.HhK - 1, s"summary overflowed: ${m.size}")
    // freq(hot)=400 > 1400/200 -> MUST survive, whatever the order
    assert(m.contains("hot"), s"superset guarantee violated: ${m.keys.take(10)}")
  }

  test("heavy_hitters: strict threshold on a planted near-boundary mix") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c6hh").toString
    // 200 tokens total: 'a' x2 (2*200 > 200: heavy), 'b' x1 (1*200 == 200:
    // strict -> NOT heavy), 197 distinct fillers
    val text = (Seq("a", "a", "b") ++ (1 to 197).map(i => s"f$i")).mkString(" ")
    Seq((1L, text, "en", "s1", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Sketches.heavyHitters(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq(("a", 2L, 10000L)), s"got: ${rows.mkString(", ")}")
  }

  test("heavy_hitters plan law: pass 2 semi-joins the broadcast candidates, no full-dictionary shuffle before the join") {
    val plan = Sketches.heavyHitters(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast candidate join:\n$plan")
  }

  test("pipeline_e2e: every stage bites — quality gate, exact dedup, eval decontamination") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c6e2e").toString
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val keep1 = words("w", 25)                          // survives, source s1
    val leakyTail = words("q", 8)
    val docs = Seq(
      (1L, keep1, "xx", "s1"),                          // survivor
      (11L, keep1, "xx", "s1"),                         // exact dup -> deduped (1 wins)
      (2L, "a b c", "xx", "s1"),                        // too_short -> quality-filtered
      (3L, words("x", 17) + " " + leakyTail, "xx", "s1"), // shares an 8-gram with eval -> leaked
      (7L, leakyTail + " " + words("z", 12), "xx", "s1"), // EVAL doc (id%10==7): blocklist only
      (4L, words("v", 25), "xx", "s2"))                 // survivor, source s2
    docs.toDF("doc_id", "text", "lang", "source")
      .selectExpr("doc_id", "text", "lang", "source", "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Curation6.pipelineE2e(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.toSeq == Seq(("s1", 1L, 25L, 1L, 1L), ("s2", 1L, 25L, 4L, 4L)),
      s"got: ${rows.mkString(", ")}")
  }

  test("emb_top_pc: exact fixed point on a planted rank-1 matrix") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c6pc").toString
    // rows are multiples of u = (0.5, -0.25, 0.25, 0...): every entry an
    // exact binary fraction, so the micro quantization is lossless and
    // the iteration must land on floor(u_j / |u|_1 * 1e6) EXACTLY and
    // stay there (hand-traced: vm = (500000, -250000, 250000, 0...) from
    // round 1 on, l1_w = 1875000 for every later round)
    val u = Array(0.5f, -0.25f, 0.25f) ++ Array.fill(61)(0.0f)
    Seq((1L, u.map(x => x * 1f)), (2L, u.map(x => x * 2f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = Clustering.embTopPc(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expectVm = Array(500000L, -250000L, 250000L) ++ Array.fill(61)(0L)
    rows.foreach { case (j, vm, l1) =>
      assert(vm == expectVm(j.toInt), s"component $j: vm=$vm, want ${expectVm(j.toInt)}")
      assert(l1 == 1875000L, s"l1_w=$l1")
    }
    assert(rows.length == 64)
  }

  test("q65_skyline: dominance ties, same-price shadowing, and the cross-bucket seed") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c6sky").toString
    val t0 = java.time.LocalDateTime.of(2026, 4, 1, 0, 0, 0)
    def ts(min: Int) = t0.plusMinutes(min)
    Seq(
      (1L, 100.0, ts(20)),   // dominated by 3 (higher price, earlier)
      (2L, 300.0, ts(30)),   // skyline: top price in bucket 0
      (3L, 200.0, ts(10)),   // skyline: earliest date
      (4L, 200.0, ts(10)),   // exact tie of 3 -> BOTH skyline
      (5L, 200.0, ts(15)),   // same price as 3, later -> dominated
      (6L, 300.0, ts(35)),   // same price as 2, later -> dominated
      (7L, 250.0, ts(30)),   // dominated by 2 (equal date, higher price)
      (8L, 15000.0, ts(40)), // skyline: top price overall (bucket 1)
      (9L, 9000.0, ts(39)),  // skyline: nothing >= 9000 is <= ts(39)
      (10L, 9500.0, ts(41))) // dominated by 8 ACROSS buckets (the seed path)
      .toDF("o_orderkey", "o_totalprice", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = graft.queries.Relational3.q65Skyline(spark, dir).collect().map(_.getLong(0))
    assert(got.toSeq == Seq(2L, 3L, 4L, 8L, 9L), s"got: ${got.mkString(", ")}")
  }

  test("q65_skyline: adversarial 1000x-wide price range keeps the driver bucket table K-bounded") {
    val s = spark
    import s.implicits._
    import graft.queries.Relational3
    val dir = tempDir("graft-c6skywide").toString
    val t0 = java.time.LocalDateTime.of(2026, 4, 1, 0, 0, 0)
    // prices span [1, 1e9] — the range that quietly grew the collected
    // array under the old fixed 10k bucket width (would be 100k rows)
    val rnd = new scala.util.Random(13)
    val rows = (1 to 2000).map { i =>
      (i.toLong, math.pow(10.0, rnd.nextDouble() * 9.0), t0.plusMinutes(rnd.nextInt(100000)))
    }
    rows.toDF("o_orderkey", "o_totalprice", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // the bucket table the driver collects is bounded by the CAP, not the range
    val perPrice = Relational3.withSkyBuckets(
      spark.read.parquet(s"$dir/orders.parquet")
        .groupBy($"o_totalprice").agg(org.apache.spark.sql.functions.min(
          org.apache.spark.sql.functions.lit(0L)).as("dmin")))
    val nBuckets = perPrice.select($"bucket").distinct().count()
    assert(nBuckets <= Relational3.SkyBucketCap + 1,
      s"bucket table must stay K-bounded, got $nBuckets")
    // and the result is still the exact skyline (brute-force replica)
    val got = Relational3.q65Skyline(spark, dir).collect().map(_.getLong(0)).toSet
    val ep = rows.map { case (k, p, d) =>
      (k, p, d.toInstant(java.time.ZoneOffset.UTC).toEpochMilli) }
    val brute = ep.filter { case (_, p, t) =>
      !ep.exists { case (_, p2, t2) =>
        p2 >= p && t2 <= t && (p2 > p || t2 < t) }
    }.map(_._1).toSet
    assert(got == brute, s"skyline mismatch: extra=${got -- brute} missing=${brute -- got}")
  }

  test("ab_test_report: hand-computed Welch t on a planted two-bucket frame") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c6ab").toString
    val t0 = java.time.LocalDateTime.of(2026, 4, 1, 0, 0, 0)
    Seq(
      (1L, t0, 0L, "t", 1.0), (2L, t0, 0L, "t", 2.0), (3L, t0, 0L, "t", 3.0),
      (4L, t0, 1L, "t", 2.0), (5L, t0, 1L, "t", 4.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = graft.queries.Relational3.abTestReport(spark, dir).collect()
    assert(r.length == 1)
    val row = (r(0).getString(0), r(0).getLong(1), r(0).getLong(2),
      r(0).getLong(3), r(0).getLong(4), r(0).getLong(5))
    // means 2000 vs 3000 milli; var_a=1e6, var_b=2e6 (milli^2);
    // t = -1000/sqrt(1e6/3 + 2e6/2) = -0.8660254 -> floor(milli) = -867
    assert(row == (("t", 3L, 2L, 2000L, 3000L, -867L)), s"got: $row")
  }

  test("attribution_linear: trailing-hour clicks share credit; same-instant and stale clicks excluded") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c6attr").toString
    val t0 = java.time.LocalDateTime.of(2026, 5, 1, 12, 0, 0)
    Seq(
      (1L, t0.minusMinutes(130), 1L, "click", 0.0),  // outside the hour
      (2L, t0.minusMinutes(30), 1L, "click", 0.0),   // counts
      (3L, t0.minusMinutes(10), 1L, "click", 0.0),   // counts
      (4L, t0, 1L, "click", 0.0),                    // same instant: excluded
      (5L, t0, 1L, "purchase", 10.0),                // n_touch = 2
      (6L, t0, 2L, "purchase", 5.0))                 // no clicks: dropped
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = graft.queries.Relational3.attributionLinear(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(3), r.getLong(4)))
    assert(rows.toSeq == Seq((5L, 2L, 5000000L)), s"got: ${rows.mkString(", ")}")
  }

  test("forget_users: the cascade reaches orders and lineitems, and only for requested keys") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c6forget").toString
    // 13 % 97 == 13 and 110 % 97 == 13 are requested; 5 is not
    Seq((13L, "a"), (110L, "b"), (5L, "c")).toDF("c_custkey", "c_name")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((101L, 13L), (102L, 5L), (103L, 110L)).toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((101L, 1), (101L, 2), (102L, 1)).toDF("l_orderkey", "l_linenumber")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = graft.queries.Relational3.forgetUsers(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("customer", 3L, 2L, 1L),
      ("lineitem", 3L, 2L, 1L),
      ("orders", 3L, 2L, 1L)), s"got: ${got.mkString(", ")}")
  }

  test("skew_report: exact power-of-two buckets and hot-key share on planted skew") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c6skew").toString
    val t0 = java.time.LocalDateTime.of(2026, 5, 2, 0, 0, 0)
    val rows = (1 to 8).map(i => (i.toLong, t0, 100L)) ++ // hot key: 8 rows -> bucket 3
      Seq((9L, t0, 200L), (10L, t0, 300L))                // two singletons -> bucket 0
    rows.toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Curation6.skewReport(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((0L, 2L, 2L, 800000L), (3L, 1L, 8L, 800000L)),
      s"got: ${got.mkString(", ")}")
  }

  test("agg_delta_merge: only delta-touched keys emitted, totals fold base + delta") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c6ivm").toString
    val t0 = java.time.LocalDateTime.of(2026, 5, 2, 0, 0, 0)
    Seq(
      (1L, t0, 1L, "t", 1.0), (2L, t0, 1L, "t", 2.0),  // base u1: n=2, s=3000
      (3L, t0, 2L, "t", 5.0),                          // base u2 (untouched)
      (1501L, t0, 1L, "t", 3.0))                       // delta u1
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Curation6.aggDeltaMerge(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq((1L, "t", 3L, 6000L, 1L)), s"got: ${got.mkString(", ")}")
  }

  test("cms_freq_estimate: the count-min guarantee holds on every probe (est >= exact)") {
    val rows = Sketches.cmsFreqEstimate(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 30, s"expected 30 probes, got ${rows.length}")
    rows.foreach { case (t, exact, est, over) =>
      assert(est >= exact, s"CMS guarantee violated for '$t': est=$est < exact=$exact")
      assert(over == est - exact, s"overcount column inconsistent for '$t'")
    }
  }

  test("twa_value: irregular sampling weighted by holding time, last reading carries no weight") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c6twa").toString
    val t0 = java.time.LocalDateTime.of(2026, 5, 3, 0, 0, 0)
    Seq(
      (1L, t0, 1L, 1.0),                 // holds 10 s
      (2L, t0.plusSeconds(10), 1L, 3.0), // holds 30 s
      (3L, t0.plusSeconds(40), 1L, 9.0), // last: no interval
      (4L, t0, 2L, 5.0))                 // single event: dropped
      .toDF("event_id", "ts", "user_id", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.queries.Relational3.twaValue(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // (1000*10e6 + 3000*30e6) / 40e6 = 2500 milli (plain AVG would say 4333)
    assert(got.toSeq == Seq((1L, 2L, 40000000L, 2500L)), s"got: ${got.mkString(", ")}")
  }

  test("gap_fill_ffill: missing days inherit the latest earlier reading; daily last wins") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c6gap").toString
    val t0 = java.time.LocalDateTime.of(2026, 5, 3, 8, 0, 0)
    Seq(
      (1L, t0, 1L, 1.0),                // day 0, superseded same day
      (2L, t0.plusHours(2), 1L, 2.0),   // day 0 last -> 2000
      (3L, t0.plusDays(2), 1L, 4.0))    // day 2; day 1 is a gap
      .toDF("event_id", "ts", "user_id", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.queries.Relational3.gapFillFfill(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    val d0 = got.head._1
    assert(got.toSeq == Seq((d0, 2000L, 0L), (d0 + 1, 2000L, 1L), (d0 + 2, 4000L, 0L)),
      s"got: ${got.mkString(", ")}")
  }

  test("ann_ndcg matches an independent Scala recomputation and is bounded by the ideal") {
    val sf = "/root/testdata/sf0.001"
    val exact = Similarity.annTopKBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getInt(1)).toMap // (q, nb) -> ex_rank
    val approx = Similarity.annTopKIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))) // (q, ap_rank, nb)
    val disc = (1 to 5).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))
    val wantDcg = approx.groupBy(_._1).view.mapValues(_.map { case (q, ap, nb) =>
      val g = exact.get((q, nb)).map(r => (1L << (5 - r)).toDouble).getOrElse(0.0)
      math.floor(g * disc(ap - 1) * 1000000.0).toLong
    }.sum).toMap
    val got = Similarity.annNdcg(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
    assert(got.length == Similarity.NProbes)
    got.foreach { case (q, (dcg, idcg, ppm)) =>
      assert(dcg == wantDcg(q), s"q=$q dcg=$dcg want=${wantDcg(q)}")
      assert(ppm <= 1000000L && ppm == dcg * 1000000L / idcg, s"q=$q ppm")
    }
  }

  test("q66_period_movers: deltas vs previous observed year, per-year movement ranks") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c6mov").toString
    def d(y: Int) = java.time.LocalDateTime.of(y, 6, 1, 0, 0, 0)
    Seq((1L, 10L, 100.0, d(2000)), (2L, 10L, 300.0, d(2001)),  // FR: +200
      (3L, 20L, 500.0, d(2000)), (4L, 20L, 550.0, d(2001)))    // DE: +50
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((10L, "c1", 1), (20L, "c2", 2)).toDF("c_custkey", "c_name", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((1, "FR", 0), (2, "DE", 0)).toDF("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    val got = graft.queries.Relational3.q66PeriodMovers(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(3), r.getInt(4).toLong))
    assert(got.toSeq == Seq((2001, "FR", 200.0, 1L), (2001, "DE", 50.0, 2L)),
      s"got: ${got.mkString(", ")}")
  }

  test("q67_cumulative_unique: users count once, on their first day") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c6q67").toString
    val t0 = java.time.LocalDateTime.of(2026, 5, 4, 0, 0, 0)
    Seq(
      (1L, t0, 1L), (2L, t0, 2L),          // day 0: u1, u2 first seen
      (3L, t0.plusDays(1), 1L),            // day 1: u1 returns (NOT new)
      (4L, t0.plusDays(3), 3L))            // day 3: u3 first seen
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.queries.Relational3.q67CumulativeUnique(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val d0 = got.head._1
    assert(got.toSeq == Seq((d0, 2L, 2L), (d0 + 3, 1L, 3L)), s"got: ${got.mkString(", ")}")
  }

  test("emb_pca_project: rank-1 data projects exactly, variance explained = 1e6 ppm") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c6proj").toString
    val u = Array(0.5f, -0.25f, 0.25f) ++ Array.fill(61)(0.0f)
    Seq((1L, u.map(x => x * 1f)), (2L, u.map(x => x * 2f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = Clustering.embPcaProject(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // hand-traced off the recovered vm (500000,-250000,250000,0...):
    // t(c) = 375000·c, and tt·1e6/(v2·nn) collapses to exactly 1e6
    assert(rows.toSeq == Seq((1L, 375000L, 1000000L), (2L, 750000L, 1000000L)),
      s"got: ${rows.mkString(", ")}")
  }

  test("dedup_cluster_stats: singleton row + component histogram on a planted pair") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c6ccs").toString
    val dup = (1 to 12).map(i => s"tok$i").mkString(" ")
    val other = (1 to 12).map(i => s"zzz$i").mkString(" ")
    Seq((1L, dup, "s1"), (2L, dup, "s1"), (3L, other, "s2"))
      .toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.dedupClusterStats(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 1L, 1L), (2L, 1L, 2L)), s"got: ${got.mkString(", ")}")
  }

  test("source_quality_matrix: verdicts split per source with exact char sums") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c6sqm").toString
    val pass = (1 to 25).map(i => s"w$i").mkString(" ")
    Seq((1L, pass, "xx", "s1"), (2L, "a b", "xx", "s1"), (3L, pass, "xx", "s2"))
      .toDF("doc_id", "text", "lang", "source")
      .selectExpr("doc_id", "text", "lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Curation6.sourceQualityMatrix(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val pl = pass.length.toLong
    assert(got.toSeq == Seq(
      ("s1", "pass", 1L, pl), ("s1", "too_short", 1L, 3L), ("s2", "pass", 1L, pl)),
      s"got: ${got.mkString(", ")}")
  }

  test("ann_recall equals the independently computed intersection of brute and IVF top-5") {
    val sf = "/root/testdata/sf0.001"
    val exact = Similarity.annTopKBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = Similarity.annTopKIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = Similarity.annRecall(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
    assert(got.length == Similarity.NProbes, s"expected ${Similarity.NProbes} probes, got ${got.length}")
    got.foreach { case (q, (nExact, nHit, ppm)) =>
      val want = exact(q).intersect(approx.getOrElse(q, Set.empty)).size.toLong
      assert(nExact == exact(q).size.toLong, s"q=$q n_exact")
      assert(nHit == want, s"q=$q: n_hit=$nHit, independent intersection=$want")
      assert(ppm == nHit * 1000000L / nExact, s"q=$q ppm")
    }
  }
}

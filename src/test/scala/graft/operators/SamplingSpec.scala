package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** Planted-scenario laws for the sampling/splitting family: consistency
  * under corpus growth, stratum bounds, the A-ES weighting arithmetic
  * replayed exactly in plain Scala, near-dup pairs never straddling a
  * split, and the K-heap plan shape (TakeOrderedAndProject, no global
  * sort) the scale claims rest on.
  */
class SamplingSpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  /** The shared md5-prefix hash key, replayed in plain JVM. */
  private def hk(x: Long): Long = {
    val hex = MessageDigest.getInstance("MD5").digest(x.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
    java.lang.Long.parseLong(hex, 16)
  }

  private def writeDocs(rows: Seq[(Long, String, String, String, Long)]): String = {
    val s = spark; import s.implicits._
    val dir = tempDir("graft-sampling").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("sample_consistent: matches the JVM replica and is stable under growth") {
    val small = (0L until 500L).map(i => (i, s"t$i", "en", "s", 10L))
    val dirSmall = writeDocs(small)
    val gotSmall = Sampling.sampleConsistent(spark, dirSmall).collect().map(_.getLong(0)).toSet
    val expSmall = small.map(_._1).sortBy(i => (hk(i), i)).take(Sampling.ConsistentK).toSet
    assert(gotSmall == expSmall, "selection must equal the hash-order replica")
    // growth law: enlarging the corpus can only EVICT (by smaller keys),
    // never admit a previously-rejected old doc — the re-draw stability
    // that makes the sample usable as a standing eval set
    val dirBig = writeDocs(small ++ (500L until 2000L).map(i => (i, s"t$i", "en", "s", 10L)))
    val gotBig = Sampling.sampleConsistent(spark, dirBig).collect().map(_.getLong(0)).toSet
    assert((gotBig & small.map(_._1).toSet).subsetOf(gotSmall),
      "an old doc outside the small-corpus sample must not enter the grown sample")
  }

  test("sample_stratified: K per stratum, minority stratum fully included") {
    val rows = (0L until 300L).map(i => (i, s"t$i", "en", "s", 5L)) ++
      (300L until 310L).map(i => (i, s"t$i", "zh", "s", 5L)) // minority: 10 < K
    val got = Sampling.sampleStratified(spark, writeDocs(rows)).collect()
      .map(r => (r.getString(1), r.getLong(0)))
    val byLang = got.groupBy(_._1).view.mapValues(_.length).toMap
    assert(byLang("en") == Sampling.StratumK, s"majority stratum capped at K: $byLang")
    assert(byLang("zh") == 10, s"minority stratum taken whole: $byLang")
  }

  test("sample_weighted: selection equals the A-ES nano-nat replica; weight bites") {
    val rows = (0L until 400L).map(i => (i, s"t$i", "en", "s", 20L + (i % 7) * 150L))
    val got = Sampling.sampleWeighted(spark, writeDocs(rows)).collect().map(_.getLong(0)).toSet
    def keyW(id: Long, w: Long): Long = {
      val nano = math.round(math.log(4294967296.0 / (hk(id) + 1).toDouble) * 1e9)
      nano / w
    }
    val exp = rows.map { case (id, _, _, _, w) => (keyW(id, w), id) }
      .sorted.take(Sampling.WeightedK).map(_._2).toSet
    assert(got == exp, "selection must equal the quantized A-ES replica")
    // weighting law: the heavy weight classes are overrepresented vs uniform
    val heavySel = got.count(id => 20L + (id % 7) * 150L >= 620L).toDouble / got.size
    val heavyPop = rows.count(r => r._5 >= 620L).toDouble / rows.size
    assert(heavySel > heavyPop, f"heavy docs must be overrepresented: $heavySel%.2f vs $heavyPop%.2f")
  }

  test("split_leakage_safe: no near-dup pair straddles a split; buckets cut 80/10/10") {
    val s = spark; import s.implicits._
    // the scale harness's planted corpus: known near-dup components
    val dir = tempDir("graft-sampsplit")
    graft.PerfHarness.synthCorpus(spark, dir, nDocs = 2000, nVecs = 10)
    val d = dir.toString
    val report = Sampling.splitLeakageSafe(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(report.keySet == Set("train", "val", "test"))
    val n = report.values.sum.toDouble
    assert(report("train") / n > 0.7 && report("train") / n < 0.9, s"report: $report")
    // the leakage law itself: every jaccard near-dup pair lands in ONE split
    val comp = Dedup.dedupClusters(spark, d).select($"doc_id", $"cluster_id")
    val assign = graft.queries.Tables.documents(spark, d).select($"doc_id")
      .join(comp, Seq("doc_id"), "left")
      .withColumn("rep", org.apache.spark.sql.functions.coalesce($"cluster_id", $"doc_id"))
      .collect().map(r => r.getLong(0) -> (hk(r.getLong(2)) % 10)).toMap
    val pairs = Dedup.dedupNgramJaccard(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "planted corpus must produce near-dup pairs")
    val straddlers = pairs.filter { case (a, b) =>
      (assign(a) < 8) != (assign(b) < 8) || (assign(a) == 8) != (assign(b) == 8) }
    assert(straddlers.isEmpty, s"near-dup pairs straddle splits: ${straddlers.take(5).mkString(", ")}")
  }

  test("TopKMinAgg: K smallest across partials, ties broken by id, K-bounded state") {
    val s = spark; import s.implicits._
    val rows = (1L to 1000L).map(i => (i * 7919L % 997L, i)) // keys collide: ties exercised
    val got = rows.toDF("hk", "id")
      .repartition(8) // merge path across partials
      .agg(graft.functions.TopKMinAgg.topkMin($"hk", $"id", 50).as("tk"))
      .select(org.apache.spark.sql.functions.explode($"tk").as("p"))
      .select($"p.key", $"p.id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exp = rows.map { case (k, i) => (k, i) }.sorted.take(50)
    assert(got == exp, "aggregate must equal the global (key,id) sort prefix")
  }

  test("plan law: the samplers compile to a K-heap (TakeOrderedAndProject), no global sort") {
    for (name <- Seq("sample_consistent", "sample_weighted")) {
      val plan = graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject"),
        s"$name must plan as a K-heap, not a global sort:\n$plan")
    }
    val strat = Sampling.sampleStratified(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(strat.contains("Window") && !strat.contains("CartesianProduct"), strat)
  }
}

package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** Planted-scenario laws for the round-13 curation operators:
  * containment must catch what Jaccard can't, novelty must order by
  * first ownership, standardization must center every dimension, and
  * the temperature allocation must be exact and budget-complete.
  */
class Curation3Spec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.codegen.maxFields", "256")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private val sf = "/root/testdata/sf0.001"

  /** Stage a documents.parquet fixture from (doc_id, text) rows. */
  private def stageDocs(rows: Seq[(Long, String)]): String = {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c3").toString
    rows.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang",
        "concat('src', doc_id % 3) AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("containment catches a small doc pasted inside a big one that Jaccard misses") {
    val small = "alpha beta gamma delta epsilon zeta eta theta"
    val filler = (1 to 80).map(i => s"w$i").mkString(" ")
    val dir = stageDocs(Seq(
      (1L, small),                     // fully contained in doc 2
      (2L, s"$filler $small $filler"), // the big host
      (3L, "completely different text with nothing shared here at all")))
    val pairs = Curation3.dedupContainment(spark, dir).collect()
    val hit = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(hit.isDefined, s"contained doc not flagged: ${pairs.mkString(", ")}")
    assert(hit.get.getDouble(2) == 1.0, "full containment must score 1.0")
    // the same pair is INVISIBLE to the symmetric Jaccard gate (≥0.8)
    val jac = Dedup.dedupNgramJaccard(spark, dir).collect()
    assert(!jac.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
      "planted pair should be below the Jaccard threshold — the asymmetry is the point")
  }

  test("novelty: a verbatim copy later in the corpus scores 0, its origin scores 1") {
    val text = "one two three four five six seven eight nine ten"
    val dir = stageDocs(Seq(
      (1L, text),                                               // origin: novelty 1
      (2L, text),                                               // copy: novelty 0
      (3L, "fresh unique words nowhere else in this corpus at all")))
    val rows = Curation3.ngramNovelty(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows(1L) == 1.0, s"origin doc must own all its shingles: $rows")
    assert(rows(2L) == 0.0, s"verbatim copy must own none: $rows")
    assert(rows(3L) == 1.0)
  }

  test("standardization centers every dimension: per-dim qz sums to ~0") {
    val s = spark
    import s.implicits._
    val out = Curation3.embStandardize(spark, sf)
    val sums = out
      .select($"vec_id", posexplode(split($"z_csv", ",")).as(Seq("pos", "qz")))
      .groupBy($"pos").agg(sum($"qz".cast("long")).as("qsum"), count(lit(1)).as("n"))
      .collect()
    // Σ round(z·1e4) per dim is bounded by n/2 in magnitude (rounding
    // residue only) when the dim is exactly centered
    sums.foreach { r =>
      assert(math.abs(r.getLong(1)) <= r.getLong(2),
        s"dimension ${r.getInt(0)} not centered: sum=${r.getLong(1)} n=${r.getLong(2)}")
    }
  }

  test("temperature allocation is exact: sums to budget, upweights small sources") {
    val s = spark
    import s.implicits._
    val out = Curation3.mixTemperatureSample(spark, sf).collect()
    val totalAlloc = out.map(_.getLong(3)).sum
    assert(totalAlloc == Curation3.MixBudget,
      s"largest-remainder allocation must sum exactly to the budget, got $totalAlloc")
    // α=0.5 compresses the range: the allocation share of the smallest
    // source must exceed its raw char share (and the largest's must shrink)
    val chars = out.map(_.getLong(2)).sum.toDouble
    val smallest = out.minBy(_.getLong(2))
    val largest = out.maxBy(_.getLong(2))
    assert(smallest.getLong(3) / Curation3.MixBudget.toDouble >=
      smallest.getLong(2) / chars, "temperature must upweight the tail source")
    assert(largest.getLong(3) / Curation3.MixBudget.toDouble <=
      largest.getLong(2) / chars, "temperature must downweight the head source")
  }

  test("containment and novelty plan keyed joins only — no nested-loop/cartesian") {
    for (q <- Seq(Curation3.dedupContainment _, Curation3.ngramNovelty _)) {
      val plan = q(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"all-pairs plan leaked into a shingle-keyed operator:\n$plan")
    }
  }
}

package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** Laws for the KMV sketches: below K the sketch IS the set (estimates
  * and overlaps exact), above K the estimator engages and stays inside
  * a sane band, and the merged-sketch jaccard hits the closed-form
  * values for planted identical / disjoint sources.
  */
class SketchesSpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.codegen.maxFields", "256")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private def stageDocs(rows: Seq[(Long, String, String)]): String = {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-kmv").toString
    rows.toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def words(prefix: String, n: Int) =
    (1 to n).map(i => s"$prefix$i").mkString(" ")

  test("below K the sketch is the whole set: estimates exact, err_ppm 0") {
    // ~28 shingles per source, well under K=64
    val dir = stageDocs(Seq(
      (1L, words("a", 30), "sA"),
      (2L, words("b", 30), "sB")))
    val rows = Sketches.sourceKmvDistinct(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"sub-K estimate must be exact: $r")
      assert(r.getLong(3) == 0L, s"err_ppm must be 0 below K: $r")
    }
  }

  test("identical sources merge to jaccard 1.0, disjoint to 0 — exactly, in ppm") {
    val shared = words("w", 40)
    val dir = stageDocs(Seq(
      (1L, shared, "sX"),
      (2L, shared, "sY"),          // identical shingle set, other source
      (3L, words("z", 40), "sZ"))) // fully disjoint
    val got = Sketches.sourceOverlapKmv(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    assert(got(("sX", "sY")) == 1000000L, s"identical sets must be ppm 1e6: $got")
    assert(got(("sX", "sZ")) == 0L && got(("sY", "sZ")) == 0L,
      s"disjoint sets must be ppm 0: $got")
  }

  test("above K the estimator engages and lands inside the 3-sigma band") {
    // ~400 distinct shingles >> K=64; estimator error ~1/sqrt(62) = 12.7%/sigma
    val dir = stageDocs(Seq((1L, words("u", 400), "big")))
    val r = Sketches.sourceKmvDistinct(spark, dir).collect().head
    val (exact, est) = (r.getLong(1), r.getLong(2))
    assert(exact > Sketches.K, "fixture must exceed K for this law")
    assert(est != exact || r.getLong(3) == 0L, "estimator branch should be in play")
    assert(est > (exact * 0.6).toLong && est < (exact * 1.4).toLong,
      s"estimate $est outside the 3-sigma band of exact $exact")
  }

  test("sketch is bounded: at most K rows survive per source pair merge input") {
    val dir = stageDocs(Seq(
      (1L, words("p", 300), "s1"),
      (2L, words("q", 300), "s2")))
    val merged = Sketches.sourceOverlapKmv(spark, dir).collect()
    // with ≥K hashes per source and a disjoint union, the merged window
    // keeps exactly K rows ⇒ matches 0, denominator K
    assert(merged.length == 1 && merged.head.getLong(2) == 0L)
    assert(merged.head.getLong(3) == 0L)
  }
}

package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** Planted-scenario laws for the Curation4 operators: the snapshot diff
  * must classify every modulus class correctly, the source matrix must
  * attribute a cross-source copy to the right cell (with no cartesian
  * anywhere in its plan), hard-negative mining must exclude same-label
  * neighbors no matter how similar, and the bucket report's integer
  * arithmetic must be exact.
  */
class Curation4Spec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.codegen.maxFields", "256")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  /** Stage a documents.parquet fixture from (doc_id, text, source). */
  private def stageDocs(rows: Seq[(Long, String, String)]): String = {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c4").toString
    rows.toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Stage an embeddings.parquet fixture from (vec_id, vector, label). */
  private def stageEmb(rows: Seq[(Long, Seq[Float], Int)]): String = {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c4e").toString
    rows.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding",
        "CAST(label AS INT) AS label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("corpus_delta classifies every modulus class: added/removed/changed, rest silent") {
    val dir = stageDocs((0L until 20L).map(i => (i, s"document body number $i", "srcA")))
    val got = Curation4.corpusDelta(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = Map(
      7L -> "added", 17L -> "added",      // absent from old
      3L -> "removed", 13L -> "removed",  // absent from new
      5L -> "changed", 15L -> "changed")  // revised in new
    assert(got == expected, s"delta verdicts: $got")
  }

  test("dup_source_matrix attributes a cross-source copy to the right cell, keyed-join plan") {
    val copied = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val dir = stageDocs(Seq(
      (1L, copied, "feedX"),
      (2L, copied, "feedY"),                 // syndicated copy, other source
      (3L, "totally unrelated text with no shared shingles at all here", "feedX")))
    val df = Curation4.dupSourceMatrix(spark, dir)
    val rows = df.collect()
    assert(rows.length == 1, s"expected one matrix cell, got: ${rows.mkString("; ")}")
    val r = rows.head
    assert(r.getString(0) == "feedX" && r.getString(1) == "feedY" && r.getLong(2) == 1L,
      s"wrong cell: $r")
    val cartesians = df.queryExecution.executedPlan.collect {
      case c: CartesianProductExec => c
    }
    assert(cartesians.isEmpty, "dup_source_matrix must never plan a cartesian product")
  }

  test("hard negatives: same-label twin excluded, different-label neighbor ranked first") {
    val base = Seq.tabulate(8)(i => (i + 1).toFloat)
    def scaled(f: Float) = base.map(_ * f)
    val dir = stageEmb(Seq(
      (1L, base, 0),              // probe
      (2L, scaled(1.0f), 0),      // identical direction, SAME label: must be excluded
      (3L, scaled(0.9f), 1),      // identical direction, other label: the hard negative
      (4L, base.reverse, 1)))     // far vector, other label
    val rows = Curation4.annHardNegatives(spark, dir)
      .collect().filter(_.getLong(0) == 1L)
    assert(!rows.exists(_.getLong(2) == 2L),
      s"same-label twin must never appear as a negative: ${rows.mkString("; ")}")
    assert(rows.head.getLong(2) == 3L && rows.head.getInt(1) == 1,
      s"cosine-identical different-label vector must rank first: ${rows.mkString("; ")}")
    assert(rows.head.getDouble(4) == 1.0, "collinear vectors must score cosine 1.0")
  }

  test("length_bucket_pack: caps, truncation, and ppm arithmetic are exact") {
    def words(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    val dir = stageDocs(Seq(
      (1L, words(10), "s"),    // cap 16, kept 10
      (2L, words(16), "s"),    // cap 16, kept 16 (boundary stays in-bucket)
      (3L, words(17), "s"),    // cap 32, kept 17
      (4L, words(5000), "s"))) // cap 4096, truncated to 4096
    val rows = Curation4.lengthBucketPack(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rows(16L) == ((2L, 26L, 6L, 812500L)), s"bucket 16: ${rows.get(16L)}")
    assert(rows(32L) == ((1L, 17L, 15L, 531250L)), s"bucket 32: ${rows.get(32L)}")
    assert(rows(4096L) == ((1L, 4096L, 0L, 1000000L)), s"bucket 4096: ${rows.get(4096L)}")
    assert(rows.keySet == Set(16L, 32L, 4096L), s"unexpected buckets: ${rows.keySet}")
  }
}

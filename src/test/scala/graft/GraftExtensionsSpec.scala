package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The engine's native expressions, reachable from plain SQL via
  * SparkSessionExtensions registration. */
class GraftExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .withExtensions(new GraftExtensions)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("driver contract: every query has an oracle except the two documented sketch rows") {
    val qs = graft.SparkEntry.queries.keySet
    val os = graft.SparkEntry.oracleSql.keySet
    val orphanOracles = os -- qs
    assert(orphanOracles.isEmpty,
      s"oracle SQL registered for nonexistent queries (typo?): ${orphanOracles.mkString(", ")}")
    val unoracled = qs -- os
    assert(unoracled == Set("q42_approx_sketches", "q51_approx_quantiles"),
      "only the two documented sketch rows may be rows-only " +
        s"(see SparkEntry scaladoc); found: ${unoracled.mkString(", ")}")
  }

  test("simhash usable from SQL and equals the column API") {
    import spark.implicits._
    import graft.functions.{Parity, TextFunctions}
    val df = Seq((1L, "a b c d e")).toDF("id", "text")
    df.createOrReplaceTempView("t_simhash")
    val viaSql = spark.sql("SELECT simhash(split(text, ' ')) AS h FROM t_simhash").head.getLong(0)
    val viaCol = df.select(TextFunctions.simhash(Parity.tokens($"text"))).head.getLong(0)
    assert(viaSql == viaCol)
  }

  test("vector_dot usable from SQL") {
    val r = spark.sql(
      "SELECT vector_dot(array(cast(1.0 as float), cast(2.0 as float)), " +
        "array(cast(3.0 as float), cast(4.0 as float))) AS d").head.getDouble(0)
    assert(r == 11.0)
  }

  test("hamming64 usable from SQL and matches bit_count(xor)") {
    val r = spark.sql("SELECT hamming64(CAST(12 AS BIGINT), CAST(10 AS BIGINT)) AS h")
      .head.getInt(0)
    assert(r == java.lang.Long.bitCount(12L ^ 10L))
  }

  test("minhash_agg usable from SQL GROUP BY") {
    import spark.implicits._
    Seq((1L, "aa"), (1L, "bb"), (2L, "aa")).toDF("doc", "s")
      .createOrReplaceTempView("t_mh")
    val rows = spark.sql(
      "SELECT doc, minhash_agg(xxhash64(s), 16) AS sig FROM t_mh GROUP BY doc ORDER BY doc")
      .collect()
    val sig1 = rows(0).getSeq[Long](1)
    val sig2 = rows(1).getSeq[Long](1)
    assert(sig1.size == 16 && sig2.size == 16)
    // doc 2 saw only "aa": its minima are exactly the "aa" permutation
    // hashes, and doc 1's minima are elementwise <= doc 2's
    assert(sig1.zip(sig2).forall { case (a, b) => a <= b })
    assert(sig1 != sig2)
  }
}

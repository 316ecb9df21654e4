package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{length, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** Hand-computed pin for [[TextAnalysis.textBigramKn]]: a corpus small
  * enough to evaluate the interpolated-KN estimate on paper, so the
  * implementation's count tables and probability formula are checked
  * against arithmetic, not against themselves (the oracled gate row
  * checks Spark-vs-DuckDB agreement; this checks both against MATH). */
class TextBigramKnSpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private def plantDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tempDir("graft-kn").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fixture"))
      .withColumn("n_chars", length($"text").cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** The operator's exact per-bigram discipline: micro-nat rounding
    * before the sum. */
  private def nllMicro(p: Double): Long = -math.round(math.log(p) * 1e6)

  test("KN estimate matches hand arithmetic on a planted corpus") {
    // doc 1: "a b a b" -> bigrams (a,b),(b,a),(a,b); doc 2: "a c"
    // big:  (a,b)->2, (b,a)->1, (a,c)->1          nTypes = 3
    // fwd:  a: ctot=3 n1f=2;  b: ctot=1 n1f=1
    // bwd:  b: n1b=1;  a: n1b=1;  c: n1b=1
    val dir = plantDocs(Seq(1L -> "a b a b", 2L -> "a c", 3L -> "solo"))

    val pAB = (2.0 - 0.75) / 3.0 + (0.75 * 2.0 / 3.0) * (1.0 / 3.0) // P(b|a)
    val pBA = (1.0 - 0.75) / 1.0 + (0.75 * 1.0 / 1.0) * (1.0 / 3.0) // P(a|b)
    val pAC = (1.0 - 0.75) / 3.0 + (0.75 * 2.0 / 3.0) * (1.0 / 3.0) // P(c|a)
    assert(pAB > 0 && pBA > 0 && pAC > 0 && pAB < 1 && pBA < 1 && pAC < 1)
    val want = Map(
      1L -> (3L, (nllMicro(pAB) + nllMicro(pBA) + nllMicro(pAB)).toDouble / (3 * 1e6)),
      2L -> (1L, nllMicro(pAC).toDouble / 1e6))

    val got = TextAnalysis.textBigramKn(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // doc 3 has one token -> no bigram -> absent, like the unigram row
    assert(got.keySet == Set(1L, 2L))
    want.foreach { case (id, (n, nll)) =>
      assert(got(id)._1 == n, s"doc $id bigram count")
      assert(math.abs(got(id)._2 - nll) < 1e-12, s"doc $id avg_nll")
    }
  }

  test("above-guard shuffle regime computes exactly the broadcast regime's scores") {
    // maxTypes=0 forces every LM table past the broadcast guard, so the
    // scoring joins fall back to shuffle equi-joins instead of the
    // three broadcasts — results must be bit-identical (the regime
    // switch is a plan choice, never a semantics choice)
    val dir = plantDocs(Seq(
      1L -> "a b a b", 2L -> "a c", 3L -> "solo",
      4L -> "the cat sat on the mat the cat", 5L -> "b a c a b a"))
    def rows(maxTypes: Long) =
      TextAnalysis.textBigramKnWith(spark, dir, maxTypes).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows(0L) == rows(Long.MaxValue),
      "gram-key regime diverged from the broadcast regime")
  }

  test("text_pmi_top: PMI replays hand arithmetic, noise floor filters, ties break on (w1,w2)") {
    // doc 1: "x y " * 10 -> (x,y) c=10, (y,x) c=9; doc 2: "p q " * 3
    // -> (p,q) c=3 (+ (q,p) c=2): below PmiMinCount=5, filtered out.
    // N = 24. marginals: c1(x)=10, c1(y)=9, c2(y)=10, c2(x)=9.
    val dir = plantDocs(Seq(
      1L -> (1 to 10).map(_ => "x y").mkString(" "),
      2L -> (1 to 3).map(_ => "p q").mkString(" ")))
    val got = TextAnalysis.textPmiTop(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    def pmiMicro(c: Long, n: Long, c1: Long, c2: Long): Long =
      math.round(math.log((c.toDouble * n.toDouble) /
        (c1.toDouble * c2.toDouble)) * 1e6)
    // (y,x): ln(9*24/81) = ln(2.667) outranks (x,y): ln(10*24/100) =
    // ln(2.4) — fewer occurrences, tighter association
    assert(got.toSeq == Seq(
      ("y", "x", 9L, pmiMicro(9, 24, 9, 9)),
      ("x", "y", 10L, pmiMicro(10, 24, 10, 10))),
      s"got ${got.toSeq}")
  }

  test("word-salad scores worse than natural order under the bigram LM") {
    // same unigram distribution in both docs — a unigram model cannot
    // tell them apart; the bigram LM must (that's the row's raison
    // d'etre). Repeated natural phrase vs a fixed shuffle of it.
    val natural = (1 to 12).map(_ => "the cat sat on the mat").mkString(" ")
    val salad = "the the cat on sat mat " + (1 to 11).map(_ =>
      "mat the on cat the sat").mkString(" ")
    val dir = plantDocs(Seq(1L -> natural, 2L -> salad))
    val got = TextAnalysis.textBigramKn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(1L) < got(2L),
      s"natural ${got(1L)} should out-score salad ${got(2L)}")
  }
}

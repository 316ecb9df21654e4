package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** Planted-fixture behavior of the curation operators (the oracle gate
  * covers the driver tables; these pin down the semantics on inputs with
  * known answers). */
class CurationSpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private def plantDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tempDir("graft-curation").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fixture"))
      .withColumn("n_chars", length($"text").cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("dedup_substrings: merged spans, within-doc repeats, clean docs zero") {
    // docs 1 and 2 share a 12-token run -> ONE merged span of 12 tokens
    // each (5 overlapping 8-windows collapse); doc 3 repeats its own
    // 8-token phrase twice -> both occurrences flagged; doc 4 is unique
    val shared = (1 to 12).map(i => s"dup$i").mkString(" ")
    val phrase = (1 to 8).map(i => s"rep$i").mkString(" ")
    val dir = plantDocs(Seq(
      1L -> s"alpha beta $shared gamma delta",
      2L -> s"x1 x2 x3 $shared y1",
      3L -> s"$phrase mid1 mid2 $phrase",
      4L -> (1 to 30).map(i => s"u$i").mkString(" ")))
    val got = Curation2.dedupSubstrings(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == ((1L, 12L)), s"doc1 expected one 12-token span: $got")
    assert(got(2L) == ((1L, 12L)), s"doc2 expected one 12-token span: $got")
    // doc3: duplicated starts 1 and 11 (gap 10 > W=8) -> two 8-token spans
    assert(got(3L) == ((2L, 16L)), s"doc3 expected two 8-token spans: $got")
    assert(got(4L) == ((0L, 0L)), s"unique doc flagged: $got")
  }

  test("dsir_resample: target-vocabulary docs outweigh off-domain docs") {
    // target slice (doc_id % 10 == 7) speaks 'med*'; raw docs 1 (on-domain)
    // and 2 (off-domain) must order by domain affinity, and only the
    // on-domain doc should clear the selection threshold
    val medical = (1 to 20).map(i => s"med${i % 5}").mkString(" ")
    val dir = plantDocs(Seq(
      7L -> medical, 17L -> medical, 27L -> medical,
      1L -> (1 to 20).map(i => s"med${i % 5}").mkString(" "),
      2L -> (1 to 20).map(i => s"legal${i % 5}").mkString(" ")))
    val got = Curation2.dsirResample(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(got(1L)._1 > got(2L)._1, s"on-domain doc must outweigh off-domain: $got")
    assert(got(1L)._2, s"on-domain doc not selected: $got")
    assert(!got(2L)._2, s"off-domain doc selected: $got")
  }

  test("decontaminate flags the planted benchmark leak and nothing else") {
    val leaked = (1 to 12).map(i => s"leak$i").mkString(" ")
    val dir = plantDocs(Seq(
      7L -> leaked,                               // benchmark doc (7 % 10 == 7)
      17L -> ((1 to 12).map(i => s"only$i").mkString(" ")), // clean benchmark doc
      3L -> s"prefix tokens here $leaked trailing bits",    // corpus doc leaking it
      4L -> ((100 to 120).map(i => s"c$i").mkString(" "))))  // unrelated corpus doc
    val got = Curation.decontaminate(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(7L)._1 == 1L, s"leak not detected: $got")
    assert(got(7L)._2 == 5L, "12 shared tokens hold 5 distinct 8-grams")
    assert(got(17L) == ((0L, 0L)), s"clean benchmark doc flagged: $got")
    assert(got.keySet == Set(7L, 17L), "every benchmark doc reports, nothing else")
  }

  test("decontaminate plans an equi-join, not a nested loop") {
    val dir = plantDocs(Seq(7L -> "a b c d e f g h", 1L -> "a b c d e f g h"))
    val plan = Curation.decontaminate(spark, dir).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"contamination join degenerated:\n$plan")
  }

  test("decontaminate_bloom: identical report, corpus pruned before the shuffles") {
    val sf = "/root/testdata/sf0.001"
    val fast = Curation.decontaminateBloom(spark, sf)
    // equality on real data — the bloom is a pre-filter only, the exact
    // join decides; any FP leaking into the report breaks this
    assert(fast.collect().toSeq == Curation.decontaminate(spark, sf).collect().toSeq)
    // plan: codegen might_contain probe, never a per-row UDF
    val plan = fast.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"no bloom probe in the plan:\n$plan")
    assert(!plan.contains("UDF("), s"per-row UDF crept into the probe:\n$plan")
    // and it actually prunes: the probe filter passes far fewer corpus
    // grams than exist (the eval slice's gram set is ~10% of the corpus)
    fast.collect()
    def deep(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val inner: Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: inner.flatMap(deep)
    }
    val probeFilter = deep(fast.queryExecution.executedPlan).collectFirst {
      case f: org.apache.spark.sql.execution.FilterExec
        if f.condition.toString.contains("might_contain") => f
    }
    assert(probeFilter.isDefined, "no executed might_contain FilterExec")
    import org.apache.spark.sql.functions._
    val totalCorpusGrams = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 10 =!= 7)
      .select(explode(split(trim(col("text")), "\\s+")).as("t"))
      .count() // upper bound on grams (n_grams = n_tokens - 7 per doc)
    assert(probeFilter.get.metrics("numOutputRows").value < totalCorpusGrams / 2,
      s"bloom probe passed ${probeFilter.get.metrics("numOutputRows").value} " +
        s"of <=$totalCorpusGrams corpus grams — pruned nothing")
  }

  test("filter_cascade: first failing rule wins, every stage listed, lang-gated stopword rule") {
    import spark.implicits._
    val dir = tempDir("graft-cascade").toString
    val longTok = "x" * 50
    Seq(
      // too_short (5 tokens)
      (1L, "a b c d e", "en"),
      // 10 tokens x 50 chars: ALSO over the char cap, but too_short is
      // earlier in the cascade and must win
      (2L, Seq.fill(10)(longTok).mkString(" "), "en"),
      // 100 x 7-char tokens = 799 chars -> too_long
      (3L, (1 to 100).map(i => f"word$i%03d").mkString(" "), "en"),
      // 30 tokens "a!" -> punct ratio 30/89 > 0.10 -> high_punct
      (4L, Seq.fill(30)("a!").mkString(" "), "en"),
      // 25 stopword-free tokens, en -> low_stopword
      (5L, (1 to 25).map(i => s"z$i").mkString(" "), "en"),
      // same text, fr -> rule is lang-gated -> pass
      (6L, (1 to 25).map(i => s"z$i").mkString(" "), "fr"),
      // en with stopwords sprinkled -> pass
      (7L, (1 to 25).map(i => if (i % 3 == 0) "the" else s"w$i").mkString(" "), "en"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("fixture"))
      .withColumn("n_chars", length($"text").cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val rows = Curation.filterCascade(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(4)) -1L else r.getLong(4)))
    assert(rows.map(_._1).toSeq == Seq(1, 2, 3, 4, 5), s"stages out of order: ${rows.toSeq}")
    val byRule = rows.map(t => t._2 -> (t._3, t._4)).toMap
    assert(byRule("too_short") == ((2L, 1L)), s"cascade order broken (doc 2 must fall to too_short, not too_long): $byRule")
    assert(byRule("too_long") == ((1L, 3L)), byRule.toString)
    assert(byRule("high_punct") == ((1L, 4L)), byRule.toString)
    assert(byRule("low_stopword") == ((1L, 5L)), byRule.toString)
    assert(byRule("pass") == ((2L, 6L)), byRule.toString)
  }

  test("doc_dup_frac: cross-doc trigrams counted, within-doc repeats distinct, short docs null") {
    val dir = plantDocs(Seq(
      1L -> "a b c x1 x2",          // shares "a b c" with doc 2 -> 1 of 3
      2L -> "z1 a b c z2",          // shares "a b c" with doc 1 -> 1 of 3
      3L -> "u1 u2 u3 u4",          // fully unique -> 0 of 2
      4L -> "t1 t2",                // shorter than the gram order
      5L -> "r1 r2 r3 q r1 r2 r3")) // repeated trigram counts ONCE (4 distinct)
    val got = Curation.docDupFrac(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toMap
    assert(got(1L) == ((3L, 1L, 1.0 / 3)), got.toString)
    assert(got(2L) == ((3L, 1L, 1.0 / 3)), got.toString)
    assert(got(3L) == ((2L, 0L, 0.0)), got.toString)
    assert(got(4L) == ((0L, 0L, -1.0)), s"short doc must report zero grams + NULL frac: $got")
    assert(got(5L) == ((4L, 0L, 0.0)), s"within-doc repeat must count once: $got")
  }

  test("filter_cascade conserves the corpus: attrition rows partition docs and chars") {
    // on ANY input, every document falls to exactly one rule, so the
    // attrition table's totals must equal the corpus totals exactly
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val (nDocs, nChars) = {
      val r = docs.agg(count(lit(1)), sum("n_chars")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val rows = Curation.filterCascade(spark, dir).collect()
    assert(rows.map(_.getLong(2)).sum == nDocs,
      s"attrition docs don't partition the corpus: ${rows.mkString(", ")}")
    assert(rows.map(_.getLong(3)).sum == nChars,
      s"attrition chars don't partition the corpus: ${rows.mkString(", ")}")
    assert(rows.length == 5, "every stage must be listed exactly once")
  }

  test("text_repetition scores a looping doc high and a diverse doc low") {
    val dir = plantDocs(Seq(
      1L -> "spam ham spam ham spam ham spam ham spam ham", // top 2-gram dominates
      2L -> ((1 to 10).map(i => s"w$i").mkString(" "))))     // all distinct
    val got = Curation.textRepetition(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    // doc 1: 9 bigrams, "spam ham" appears 5 times
    assert(math.abs(got(1L)._1 - 5.0 / 9.0) < 1e-12)
    assert(got(1L)._3 == 0.2) // 2 distinct / 10 tokens
    assert(got(2L)._1 == 1.0 / 9.0 && got(2L)._3 == 1.0)
  }

  test("text_cooccur ranks an always-together pair above independent tokens") {
    // pair (aa, bb) always co-occurs; cc floats independently
    val docs = (1L to 8L).map(i => i -> s"aa bb filler$i") ++
      (9L to 16L).map(i => i -> s"cc alone$i aa")
    val dir = plantDocs(docs)
    val rows = Curation.textCooccur(spark, dir).collect()
    val lift = rows.map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    // aa:16 docs, bb:8, together 8 -> lift = 8*16/(16*8) = 1
    // aa-cc together 8 of 16, cc:8 -> same 1.0; bb-cc never together -> absent
    assert(lift(("aa", "bb")) == 1.0)
    assert(!lift.contains(("bb", "cc")), "never-co-occurring pair must not appear")
    // perfect exclusive pair beats the structural baseline: plant one
    val dir2 = plantDocs((1L to 4L).map(i => i -> s"xx yy noise$i") ++
      (5L to 12L).map(i => i -> s"zz other$i"))
    val rows2 = Curation.textCooccur(spark, dir2).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    // xx,yy: 4 docs each, together 4, N=12 -> lift 12*4/16 = 3
    assert(rows2(("xx", "yy")) == 3.0)
  }
}

package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** Planted-scenario laws for the Curation5 operators and the BPE
  * encoder: entropy's integer micro-nat arithmetic must be exact on a
  * hand-computable histogram, winnowing must honor its published match
  * guarantee (shared substring of length ≥ k+w−1 ⇒ shared fingerprint),
  * and BPE encoding must compress exactly as the learned merge table
  * dictates — training exactly once per JVM (the Models law).
  */
class Curation5Spec extends AnyFunSuite with SuiteTempDirs {

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
    val dir = tempDir("graft-c5").toString
    rows.toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("text_entropy: constant doc scores 0, abab scores exactly ln2 micro-nats") {
    val dir = stageDocs(Seq(
      (1L, "aaaaaaaa", "s"),
      (2L, "abab", "s")))
    val got = Curation5.textEntropy(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((8L, 1L, 0L)), s"constant doc: ${got(1L)}")
    // n=4, two chars x2: ent = (4*lnu(4) - 2*(2*lnu(2))) div 4 = lnu(2) = 693147
    assert(got(2L) == ((4L, 2L, 693147L)), s"abab doc: ${got(2L)}")
  }

  test("winnow_fingerprint: docs sharing a >= k+w-1 substring share a fingerprint; disjoint docs share none") {
    val shared = "zqxjkvwpyg_unique_marker_block" // 30 chars >= k+w-1 = 11
    val dir = stageDocs(Seq(
      (1L, s"first document prefix $shared and a suffix here", "s"),
      (2L, s"totally different opening then $shared trailing words", "s"),
      (3L, "completely disjoint content in this third row 0123456789 end", "s")))
    val got = Curation5.winnowFingerprint(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L)._2 >= 1, s"doc 1 must share a winnowed fingerprint: ${got(1L)}")
    assert(got(2L)._2 >= 1, s"doc 2 must share a winnowed fingerprint: ${got(2L)}")
    assert(got(3L)._2 == 0, s"doc 3 shares nothing: ${got(3L)}")
    // density sanity: selected fingerprints never exceed the full-window count
    got.foreach { case (id, (nFp, _)) =>
      assert(nFp >= 1, s"doc $id selected no fingerprint")
    }
  }

  test("bpe_encode: merge table applies exactly, and training runs once per JVM") {
    val dir = stageDocs(Seq(
      (1L, "aa aa aa", "s"),
      (2L, "aa b", "s")))
    val first = TextAnalysis.bpeEncode(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // learned merge 1: "a a" (count 4) -> every "aa" word becomes one token;
    // no adjacent pairs remain, so the loop exhausts after round 1
    assert(first(1L) == ((6L, 3L)), s"doc 1 units: ${first(1L)}")
    assert(first(2L) == ((3L, 2L)), s"doc 2 units: ${first(2L)}")
    val second = TextAnalysis.bpeEncode(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(second == first, "encode must be deterministic across calls")
    val key = s"bpe:${Models.inputFingerprint(dir)}:m${TextAnalysis.BpeMerges}"
    assert(Models.builds(key) == 1,
      s"merge table must train exactly once per JVM, trained ${Models.builds(key)} times")
  }

  test("tokenizer_fertility: per-lang ratios replay the hand computation on the shared merge table") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c5f").toString
    Seq((1L, "aa aa aa", "en"), (2L, "aa b", "fr"))
      .toDF("doc_id", "text", "lang")
      .selectExpr("doc_id", "text", "lang", "'s' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.tokenizerFertility(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // merge 1 is "a a" (count 4): "aa" collapses to one unit, "b" stays one
    // en: 3 words, 3 bpe units, 6 char units -> fertility 1e6, compression 5e5
    assert(got("en") == ((1L, 3L, 3L, 6L, 1000000L, 500000L)), s"en: ${got("en")}")
    // fr: 2 words, 2 bpe units, 3 char units -> fertility 1e6, compression 333333
    assert(got("fr") == ((1L, 2L, 2L, 3L, 1000000L, 333333L)), s"fr: ${got("fr")}")
  }

  test("quality_calibrate: per-source ranks span [0, 1e6], singleton source pins 0") {
    val dir = stageDocs(Seq(
      (1L, "w w w w", "big"),            // diversity 1/4
      (2L, "w x w x", "big"),            // diversity 2/4
      (3L, "w x y z", "big"),            // diversity 4/4
      (4L, "anything at all here", "solo")))
    val got = Curation5.qualityCalibrate(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got(1L) == 0L && got(2L) == 500000L && got(3L) == 1000000L,
      s"big-source calibrated ranks: $got")
    assert(got(4L) == 0L, s"singleton source must pin 0: ${got(4L)}")
  }

  test("source_divergence: mirrored skew scores the hand-computed KL exactly") {
    val dir = stageDocs(Seq(
      (1L, "a a a b", "srcA"),
      (2L, "b b b a", "srcB")))
    val got = Curation5.sourceDivergence(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // p_s = (3/4, 1/4) vs corpus (1/2, 1/2), symmetric:
    // (3*(lnu(3/4)-lnu(1/2)) + (lnu(1/4)-lnu(1/2))) div 4 = 130812
    assert(got("srcA") == ((4L, 130812L)), s"srcA: ${got("srcA")}")
    assert(got("srcB") == ((4L, 130812L)), s"srcB: ${got("srcB")}")
  }

  test("q60_latest_by_key: newest version wins, ts ties break on event_id") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c5q60").toString
    val t0 = java.time.LocalDateTime.of(2026, 1, 1, 0, 0, 0)
    Seq(
      (1L, t0, 1L, "a", 10.0), (2L, t0.plusHours(1), 1L, "a", 20.0),
      (3L, t0, 2L, "b", 30.0), (4L, t0, 2L, "b", 40.0)) // ts tie -> id 4 wins
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.queries.Relational3.q60LatestByKey(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(4), r.getDouble(5)))).toMap
    assert(got((1L, "a")) == ((2L, 2L, 20.0)), s"user 1: ${got((1L, "a"))}")
    assert(got((2L, "b")) == ((2L, 4L, 40.0)), s"user 2 tie-break: ${got((2L, "b"))}")
  }

  test("q60_latest_by_key plan law: partial aggregation collapses history before the shuffle, no window") {
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = graft.queries.Relational3
      .q60LatestByKey(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan
    def flat(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      (p +: p.children.flatMap(flat)) ++ (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => flat(a.executedPlan)
        case _ => Seq.empty
      })
    val nodes = flat(plan)
    assert(nodes.collectFirst { case w: WindowExec => w }.isEmpty,
      "latest-by-key must not plan a window over the history")
    // a partial SortAggregate must sit BELOW the hash exchange (map-side
    // collapse), the final one above it
    val aggs = nodes.collect { case a: SortAggregateExec => a }
    assert(aggs.size >= 2, s"expected partial+final aggregates, got ${aggs.size}")
    val hashEx = nodes.collect { case e: ShuffleExchangeExec => e }
    assert(hashEx.nonEmpty, "expected the collapsed hash exchange")
    val belowExchange = hashEx.flatMap(e => flat(e.child)).collect { case a: SortAggregateExec => a }
    assert(belowExchange.nonEmpty, "partial aggregate must run before the shuffle")
  }

  test("ann_ivf_append: delta assigns to the standing base index, centroids train once") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c5ivf").toString
    // 20 base vectors (ids skip %10==3) along distinct directions + 2
    // delta vectors exactly collinear with known base vectors
    def unit(i: Int): Seq[Float] = (0 until 8).map(k => if (k == i % 8) 1.0f else 0.001f * i)
    val base = (0 until 24).map(_.toLong).filter(_ % 10 != 3).map(i => (i, unit(i.toInt), 0))
    val delta = Seq((3L, unit(0), 0), (13L, unit(1), 0)) // collinear with vec 0 / vec 1
    (base ++ delta).toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding",
        "CAST(label AS INT) AS label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val first = Similarity.annIvfAppend(spark, dir).collect()
    val second = Similarity.annIvfAppend(spark, dir).collect()
    assert(first.map(_.toString).toSeq == second.map(_.toString).toSeq,
      "append must be deterministic across calls")
    assert(first.map(_.getLong(2)).sum == 2L,
      s"both delta vectors must land in some standing cluster: ${first.mkString("; ")}")
    val built = Models.builds(s"ivf-centroids-base|$dir|k=16" +
      s"|in=${Models.inputFingerprint(s"$dir/embeddings.parquet")}")
    assert(built == 1, s"centroids must train exactly once, trained $built times")
  }

  test("q61_asof_nearest: picks the closer click in either direction, honors the 1h bound") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c5q61").toString
    val t0 = java.time.LocalDateTime.of(2026, 1, 1, 12, 0, 0)
    Seq(
      // user 1: click 10 min BEFORE beats click 50 min after
      (10L, t0.minusMinutes(10), 1L, "click"), (11L, t0, 1L, "purchase"),
      (12L, t0.plusMinutes(50), 1L, "click"),
      // user 2: only a click AFTER within the hour
      (20L, t0, 2L, "purchase"), (21L, t0.plusMinutes(20), 2L, "click"),
      // user 3: clicks exist but both outside +-1h
      (30L, t0.minusHours(2), 3L, "click"), (31L, t0, 3L, "purchase"),
      (32L, t0.plusHours(2), 3L, "click"),
      // user 4: equidistant clicks -> earlier (preceding) wins
      (40L, t0.minusMinutes(15), 4L, "click"), (41L, t0, 4L, "purchase"),
      (42L, t0.plusMinutes(15), 4L, "click"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.queries.Relational3.q61AsofNearest(spark, dir).collect()
      .map(r => r.getLong(1) -> ((Option(r.get(3)), Option(r.get(4))))).toMap
    assert(got(11L) == ((Some(10L), Some(-600000000L))), s"user 1: ${got(11L)}")
    assert(got(20L) == ((Some(21L), Some(1200000000L))), s"user 2: ${got(20L)}")
    assert(got(31L) == ((None, None)), s"user 3 outside bound: ${got(31L)}")
    assert(got(41L) == ((Some(40L), Some(-900000000L))), s"user 4 tie: ${got(41L)}")
  }

  test("mm_phash_dedup: a one-byte edit stays within banding distance, constant payload hashes 0") {
    assert(Multimodal.aHash(Array.fill[Byte](200)(42)) == 0L,
      "constant payload: no block mean exceeds the global mean")
    val base = ("the quick brown fox jumps over the lazy dog " * 4).trim
    val edited = base.updated(90, 'X').toString
    val other = ("zz9 qq8 ww7 ee6 rr5 tt4 yy3 uu2 ii1 oo0 pp aa ss dd ff gg hh jj kk ll " * 3).trim
    val dir = stageDocs(Seq((1L, base, "s"), (2L, edited, "s"), (3L, other, "s")))
    val got = Multimodal.mmPhashDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    assert(got(1L)._1 >= 1 && got(1L)._2.exists(_ <= 6),
      s"near-identical payloads must band together at small hamming: ${got(1L)}")
    assert(got(2L)._1 >= 1, s"edited copy must see its original: ${got(2L)}")
    assert(got(3L)._2.forall(_ > 6), s"unrelated payload must not verify: ${got(3L)}")
  }

  test("q59_interval_union: overlapping intervals merge, disjoint intervals open islands") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c5e").toString
    val t0 = java.time.LocalDateTime.of(2026, 1, 1, 0, 0, 0)
    // user 1: events 10 min apart (intervals overlap -> one island, 40 min)
    // user 2: events 2 h apart (disjoint -> two islands, 60 min)
    Seq(
      (1L, t0, 1L), (2L, t0.plusMinutes(10), 1L),
      (3L, t0, 2L), (4L, t0.plusHours(2), 2L))
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.queries.Relational3.q59IntervalUnion(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((2L, 1L, 40L * 60 * 1000000)), s"user 1: ${got(1L)}")
    assert(got(2L) == ((2L, 2L, 60L * 60 * 1000000)), s"user 2: ${got(2L)}")
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.functions.Parity
import graft.operators.TextAnalysis.{KnDiscount, bigramCounts, broadcastUnder, knContexts,
  knSizes, knTablesSql, meanNll, meanNllSql}
import StreamRun.Feed

/** Streaming consumers of standing MODEL artifacts: rows where the
  * expensive thing (an n-gram LM, an index) is trained once on the
  * standing corpus and every arriving micro-batch is scored against it
  * — the always-on form of "train the filter, then run it over the
  * crawl". Same gate discipline as [[Streaming2]]/[[Streaming3]]: a
  * real micro-batch pipeline over the `graft-files` source whose
  * accumulated sink must hash-equal batch SQL over the same slice.
  */
object Streaming4 {
  /** Streaming LM quality gate (`stream_lm_score`): the interpolated
    * Kneser-Ney bigram LM of `text_bigram_kn`, trained ONCE on the
    * standing corpus (doc_id % 5 != 0) as prep, scoring every ARRIVING
    * document (doc_id % 5 == 0, staged through the push source) at
    * ingest — the quality filter a crawl pipeline runs on each batch
    * the moment it lands, against a model that does NOT retrain per
    * batch.
    *
    * Unlike the batch row (LM trained on the scored corpus itself, no
    * OOV possible), arriving text is held-out, so the scorer needs the
    * full KN backoff ladder, spelled identically on both engines:
    *  - bigram seen:  (c-D)/ctot + (D·n1f/ctot)·Pc(w2)
    *  - only w1 seen: (D·n1f/ctot)·Pc(w2)   (the bigram mass is all
    *    discount — the backoff weight times the continuation prob)
    *  - w1 unseen:    Pc(w2)
    * with Pc(w2) = n1b(w2)/nTypes for a seen continuation and a
    * deterministic 1/(V+1) floor for an unseen token (V = standing
    * vocabulary size) — a floor, not a normalized distribution, which
    * is fine for a monotone quality signal and keeps ln defined.
    *
    * Scale shape: the LM tables are bigram-TYPE-bounded (built once,
    * broadcast per batch — at web-scale vocabularies they'd be
    * shuffle equi-joins, still on LM keys only); each batch explodes
    * only its own bigrams and aggregates per doc before the
    * storage append, so appended bytes track the BATCH (one row per
    * arriving doc), never the history. Per-batch accounting feeds the
    * StateInvarianceSpec family via [[StreamPlans]]. Above the
    * per-table guard the oversized table's join falls back to an AQE
    * shuffle equi-join; StreamingLmRegimeSpec forces that regime
    * through the maxTypes parameter and pins score equality. */
  def streamLmScore(s: SparkSession, dir: String): DataFrame =
    streamLmScoreWith(s, dir, graft.operators.TextAnalysis.LmBroadcastMaxTypes)

  private[graft] def streamLmScoreWith(s: SparkSession, dir: String,
      maxTypes: Long): DataFrame =
      Streaming.withStateShuffle(s, 8) { StreamRun(s, "stream_lm_score") { run =>
    import s.implicits._
    StreamPlans.resetIngest(run.gate)
    val prepT0 = System.nanoTime()
    val docs = Tables.documents(s, dir)

    // ---- prep: the standing LM as a TRAIN-ONCE Models artifact (the
    // ccStandingArtifacts shape, r22): bigram/context/continuation
    // tables plus the scalar stats row committed as parquet once per
    // corpus fingerprint. Until r22 the LM was re-aggregated from the
    // standing corpus on EVERY invocation — the production shape trains
    // once and every later run (including the bench's min-of-2 rerun)
    // reads the tables. The build tokenizes the standing corpus ONCE
    // (a prep-only cache feeds both the bigram build and the
    // vocabulary-size floor — the textBigramKn no-extra-pass
    // discipline), and ONE fused scalar action over big yields the
    // continuation normalizer and both context-table guard sizes.
    val fp = graft.operators.Models.inputFingerprint(s"$dir/documents.parquet")
    val lmDir = graft.operators.Models.root(
        s"stream-lm|$dir|kn=$KnDiscount|in=$fp") { out =>
      val toks = docs.filter($"doc_id" % 5 =!= 0)
        .select($"doc_id", Parity.tokens($"text").as("t"))
        .persist()
      val bigB = bigramCounts(Parity.bigrams(toks)).persist()
      bigB.write.mode("overwrite").parquet(s"$out/big")
      val (fwdB, bwdB) = knContexts(bigB)
      fwdB.write.mode("overwrite").parquet(s"$out/fwd")
      bwdB.write.mode("overwrite").parquet(s"$out/bwd")
      val (nTypesB, nFwdB, nBwdB) = knSizes(bigB)
      val vSizeL = toks.select(explode($"t").as("tok"))
        .agg(countDistinct($"tok")).first().getLong(0)
      Seq((nTypesB, nFwdB, nBwdB, vSizeL))
        .toDF("n_types", "n_fwd", "n_bwd", "v_size")
        .write.mode("overwrite").parquet(s"$out/stats")
      bigB.unpersist(); toks.unpersist()
      java.nio.file.Files.createFile(java.nio.file.Paths.get(out, "_SUCCESS"))
    }
    // session-lived pins over the artifact reads: the per-batch joins
    // broadcast these frames, and a pinned read materializes once
    val big = s.read.parquet(s"$lmDir/big").persist()
    val fwd = s.read.parquet(s"$lmDir/fwd").persist()
    val bwd = s.read.parquet(s"$lmDir/bwd").persist()
    val st = s.read.parquet(s"$lmDir/stats").first()
    val (nTypesL, nFwd, nBwd) =
      (st.getAs[Long]("n_types"), st.getAs[Long]("n_fwd"), st.getAs[Long]("n_bwd"))
    val nTypes = nTypesL.toDouble
    val vSize = st.getAs[Long]("v_size").toDouble
    // bigram types GROW with the standing corpus, so each table's
    // per-batch broadcast is guarded by its own (artifact-carried)
    // count — fwd/bwd are vocab-bounded and usually keep broadcasting
    // after big (a row per bigram TYPE) has to fall back to a shuffle
    // equi-join (regime equality pinned by StreamingLmRegimeSpec).
    def lm(df: DataFrame, rows: Long): DataFrame = broadcastUnder(df, rows, maxTypes)
    // materialize the pins before the stream races them
    big.count(); fwd.count(); bwd.count()
    StreamPlans.recordPrep(run.gate, (System.nanoTime() - prepT0) / 1e9)

    // ---- arriving corpus staged as 4 files -> 2 micro-batches
    val stage = StageCache.dir(run.gate,
        s"$dir|docs|mod5eq0|hash:4:doc_id", Seq(s"$dir/documents.parquet")) { out =>
      docs.filter($"doc_id" % 5 === 0)
        .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
        .repartition(4, $"doc_id")
        .write.mode("overwrite").parquet(out)
    }
    val scoresDir = run.tempDir("scores")
    val arriving = run.source(Streaming.docsSchema, Seq(Feed(stage)), "maxFilesPerTrigger" -> "2")
    // the three session-lived LM caches must release even when the
    // stream FAILS — after the run they would leak for the session on
    // any error the run rethrows
    try run.foreachBatch(arriving) { (batch, id) =>
      val ingestT0 = System.nanoTime()
      val bytes0 = StreamPlans.dirBytes(scoresDir)
      // Pc materialized as a column FIRST so both engines build the
      // identical expression tree (the oracle's `parts` CTE)
      // One left-join ladder serves BOTH regimes: under the guard
      // each table broadcasts; above it the oversized table's join
      // falls back to an AQE shuffle equi-join on the token strings
      // (the gram-key respell was measured WORSE — see the batch
      // row's regime comment + BENCH_NOTES round 18; regime equality
      // of this fallback is pinned by StreamingLmRegimeSpec through
      // the maxTypes parameter).
      val parts = Parity.bigrams(batch.select($"doc_id", Parity.tokens($"text").as("t")))
        .join(lm(big, nTypesL), Seq("w1", "w2"), "left")
        .join(lm(fwd, nFwd), Seq("w1"), "left")
        .join(lm(bwd, nBwd), Seq("w2"), "left")
        .withColumn("pc",
          when($"n1b".isNotNull, $"n1b".cast("double") / lit(nTypes))
            .otherwise(lit(1.0) / lit(vSize + 1.0)))
      val p =
        when($"c".isNotNull,
          ($"c".cast("double") - KnDiscount) / $"ctot".cast("double") +
            (lit(KnDiscount) * $"n1f".cast("double") / $"ctot".cast("double")) * $"pc")
        .when($"ctot".isNotNull,
          (lit(KnDiscount) * $"n1f".cast("double") / $"ctot".cast("double")) * $"pc")
        .otherwise($"pc")
      val scores = parts
        .withColumn("nll_micro", -Parity.microNats(p))
        .transform(meanNll("n_bigrams"))
      StreamPlans.capturePlan(run.gate, scores)
      scores.write.mode("overwrite").parquet(s"$scoresDir/batch=$id")
      StreamPlans.recordIngest(run.gate, id,
        StreamPlans.dirBytes(scoresDir) - bytes0,
        (System.nanoTime() - ingestT0) / 1e9)
    } finally { big.unpersist(); fwd.unpersist(); bwd.unpersist() }
    // each arriving doc lives in exactly one staged file, so the
    // accumulated sink is one row per doc already — no re-aggregation
    s.read.parquet(scoresDir)
      .select($"doc_id", $"n_bigrams", $"avg_nll")
      .orderBy($"doc_id")
  }}

  /** Batch-equivalent oracle: standing-LM KN scoring of the held-out
    * slice, backoff ladder spelled with the same parenthesization. */
  val streamLmScoreSql: String = {
    // interpolated Kneser-Ney probability, the same three cases as the
    // Spark side's `p`
    val p =
      """CASE
        |        WHEN c IS NOT NULL THEN
        |          (CAST(c AS DOUBLE) - 0.75) / CAST(ctot AS DOUBLE)
        |          + (0.75 * CAST(n1f AS DOUBLE) / CAST(ctot AS DOUBLE)) * pc
        |        WHEN ctot IS NOT NULL THEN
        |          (0.75 * CAST(n1f AS DOUBLE) / CAST(ctot AS DOUBLE)) * pc
        |        ELSE pc
        |      END""".stripMargin
    raw"""WITH toks AS (
         |  SELECT doc_id, ${Parity.tokensSql("text")} AS t FROM documents
         |), ${knTablesSql("toks WHERE doc_id % 5 <> 0")}, nt AS (
         |  SELECT CAST(COUNT(*) AS DOUBLE) AS ntypes FROM big
         |), vsz AS (
         |  SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v
         |  FROM (SELECT unnest(t) AS tok FROM toks WHERE doc_id % 5 <> 0)
         |), eval_bi AS (
         |  ${Parity.bigramsSql("toks WHERE doc_id % 5 = 0")}
         |), parts AS (
         |  SELECT e.doc_id, big.c, fwd.ctot, fwd.n1f,
         |    CASE WHEN bwd.n1b IS NOT NULL
         |      THEN CAST(bwd.n1b AS DOUBLE) / (SELECT ntypes FROM nt)
         |      ELSE 1.0 / ((SELECT v FROM vsz) + 1.0) END AS pc
         |  FROM eval_bi e
         |  LEFT JOIN big ON e.w1 = big.w1 AND e.w2 = big.w2
         |  LEFT JOIN fwd ON e.w1 = fwd.w1
         |  LEFT JOIN bwd ON e.w2 = bwd.w2
         |), scored AS (
         |  SELECT doc_id,
         |    -${Parity.microNatsSql(p)} AS nll_micro
         |  FROM parts
         |)
         |${meanNllSql("n_bigrams")}""".stripMargin
  }

  val rows: Seq[QueryDef] = Seq(
    QueryDef("stream_lm_score", streamLmScore _, streamLmScoreSql),
  )
}

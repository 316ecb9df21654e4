package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.functions.Parity.{bigrams, bigramsSql, hitRatio, hitRatioSql, meanTokenLength,
  meanTokenLengthSql, microNats, microNatsSql, normalizedSql, punctRatio, punctRatioSql, shingles,
  stopwordRatio, stopwordRatioSql, tokens, tokensSql}
import graft.functions.TextFunctions.fingerprint
import graft.queries.Tables

/** Text-analysis operators for corpus curation: token counting, quality
  * scoring (length/punctuation/stopword ratios), language identification
  * (n-gram/stopword heuristic), and document fingerprinting. All built
  * from codegen'd built-ins; one narrow projection pass over the corpus,
  * no shuffle except the final presentation sort.
  */
object TextAnalysis {

  // -------------------------------------------------------- token count
  /** Whitespace tokenization + a BPE-ish subword estimate: alnum runs and
    * single punctuation marks counted separately (the usual pre-tokenizer
    * shape), so `bpe_ish` >= `n_tokens`. */
  def textTokenCount(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id",
        size(tokens($"text")).as("n_tokens"),
        size(tokens(regexp_replace($"text", "[^a-zA-Z0-9]", " "))).as("bpe_ish"))
      .orderBy($"doc_id")
  }
  val textTokenCountSql: String =
    raw"""SELECT doc_id,
         |  len(${tokensSql("text")}) AS n_tokens,
         |  len(${tokensSql("regexp_replace(text, '[^a-zA-Z0-9]', ' ', 'g')")}) AS bpe_ish
         |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ quality
  /** Quality metrics per document: exact-int-ratio doubles throughout so
    * every engine computes identical values. */
  def textQuality(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = tokens($"text")
    Tables.documents(s, d)
      .select($"doc_id",
        length($"text").as("len"),
        size(toks).as("n_tokens"),
        meanTokenLength(toks).as("mean_tok_len"),
        stopwordRatio(toks).as("stop_ratio"),
        punctRatio($"text").as("punct_ratio"))
      .orderBy($"doc_id")
  }
  val textQualitySql: String =
    raw"""SELECT doc_id, LENGTH(text) AS len,
         |  len(toks) AS n_tokens,
         |  ${meanTokenLengthSql("toks")} AS mean_tok_len,
         |  ${stopwordRatioSql("toks")} AS stop_ratio,
         |  ${punctRatioSql("text")} AS punct_ratio
         |FROM (SELECT *, ${tokensSql("text")} AS toks FROM documents)
         |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------- fingerprint
  /** Fingerprint groups: docs sharing the 64-bit normalized-text
    * fingerprint. The oracle groups by the normalized string itself, so a
    * hash collision would be caught as a mismatch. */
  def textFingerprintGroups(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .groupBy(fingerprint($"text").as("fp"))
      .agg(min($"doc_id").as("rep_id"), count(lit(1)).as("n_docs"),
        max(length($"text")).as("max_len"))
      .select($"rep_id", $"n_docs", $"max_len")
      .orderBy($"rep_id")
  }
  val textFingerprintGroupsSql: String =
    raw"""SELECT MIN(doc_id) AS rep_id, COUNT(*) AS n_docs, MAX(LENGTH(text)) AS max_len
         |FROM documents
         |GROUP BY ${normalizedSql("text")}
         |ORDER BY rep_id""".stripMargin

  // ------------------------------------------------------------ lang id
  private val langStops: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"),
    "es" -> Seq("el", "la", "los", "de", "y", "un", "una", "es", "que", "para"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit", "von"))

  /** Heuristic language ID: stopword hit-rate per language plus a CJK
    * character-ratio channel; deterministic argmax (score desc, ties to
    * the lexicographically-last language code — the order sort_array
    * descending yields). A real pipeline swaps in fastText/CLD3 — the
    * operator shape (one scored projection, no shuffle) is what matters
    * at scale. Every score is an exact integer ratio, so despite being a
    * heuristic the operator is fully oracle-checkable; accuracy is
    * additionally asserted on planted multilingual snippets in spec. */
  def textLangId(s: SparkSession, d: String): DataFrame =
    langId(Tables.documents(s, d))

  val textLangIdSql: String = {
    val scored = (langStops.toSeq.sortBy(_._1).map { case (lang, words) =>
      s"struct_pack(score := ${hitRatioSql("toks", words)}, lang := '$lang')"
    } :+ ("struct_pack(score := 3 * CAST(LENGTH(text) - LENGTH(regexp_replace(text, " +
      "'[\\x{4e00}-\\x{9fff}]', '', 'g')) AS DOUBLE) / LENGTH(text), lang := 'zh')"))
      .mkString(",\n         |      ")
    raw"""WITH scored AS (
         |  SELECT doc_id, unnest([
         |      $scored
         |    ], recursive := false) AS s
         |  FROM (SELECT doc_id, text,
         |          ${tokensSql("lower(text)")} AS toks
         |        FROM documents)
         |), ranked AS (
         |  SELECT doc_id, s.lang AS pred_lang, ROUND(s.score, 6) AS confidence,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id
         |                       ORDER BY s.score DESC, s.lang DESC) AS rk
         |  FROM scored)
         |SELECT doc_id, pred_lang, confidence FROM ranked WHERE rk = 1
         |ORDER BY doc_id""".stripMargin
  }

  /** Core scorer, parameterized by input for testability on planted docs.
    *
    * Two-step projection on purpose (the docShinglesOf discipline):
    * `toks` is materialized as an attribute BEFORE the per-language
    * filter lambdas reference it. Embedding `tokens(lower(text))`
    * straight into the lambdas re-runs the regex split once PER
    * LANGUAGE per document; one alias referenced by every language
    * splits once (multiple references to a non-trivial alias also keep
    * CollapseProject from re-inlining it). Measured at sf0.1: see
    * BENCH_NOTES round-17 table. */
  def langId(docs: DataFrame): DataFrame = {
    val toks = col("toks")
    val cjkRatio = (length(col("text")) -
      length(regexp_replace(col("text"), "[\\x{4e00}-\\x{9fff}]", ""))).cast("double") /
      length(col("text"))
    val scored = langStops.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(hitRatio(toks, words).as("score"), lit(lang).as("lang"))
    } :+ struct((cjkRatio * 3).as("score"), lit("zh").as("lang"))
    docs
      .select(col("doc_id"), col("text"), tokens(lower(col("text"))).as("toks"))
      .withColumn("best", sort_array(array(scored: _*), asc = false).getItem(0))
      .select(col("doc_id"), col("best.lang").as("pred_lang"),
        round(col("best.score"), 6).as("confidence"))
      .orderBy(col("doc_id"))
  }

  // --------------------------------------------------- unigram perplexity
  /** CCNet-style LM quality scoring, with the LM trained on the corpus
    * itself: a unigram model P(tok) = cnt/total, and each document scored
    * by its mean negative log-likelihood (avg nats/token — monotone in
    * perplexity). Unusually HIGH scores are rare-token soup, unusually
    * LOW scores are boilerplate of ultra-common tokens; CCNet buckets a
    * corpus into head/middle/tail exactly this way.
    *
    * Scale shape: the LM is one hash aggregate (vocab-sized); scoring
    * joins tokens to the vocab — broadcast here, a shuffle equi-join at
    * web-scale vocabularies — then one per-doc aggregate. Document text
    * never moves.
    *
    * Engine parity: each token's ln rounds to integer MICRO-NATS before
    * the per-doc sum, so the sum is exact and order-free (a raw double
    * sum would depend on partitioning), and a last-ulp difference between
    * the two engines' `ln` is absorbed by the rounding. One division at
    * the end. Residual risk, acknowledged: if a token's ln(p)*1e6 lands
    * within an ulp of a .5 rounding boundary the two engines can round to
    * different integers — the parity is overwhelmingly-probable rather
    * than guaranteed (unlike the fixed-point centroid sums, which are
    * exact). If the gate ever flakes here, derive the nll from an
    * exact-integer construction (rational cnt/total scoring) instead. */
  def textPerplexity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select($"doc_id", explode(tokens($"text")).as("tok"))
    val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
    val total = toks.count()
    toks.join(broadcast(vocab), "tok")
      .withColumn("nll_micro",
        -microNats($"cnt".cast("double") / lit(total.toDouble)))
      .transform(meanNll("n_toks"))
      .orderBy($"doc_id")
  }

  /** Per-doc `(doc_id, <count>, avg_nll)` of a `(doc_id, nll_micro)`
    * frame: the integer micro-nat sum, divided once at the end. */
  private[graft] def meanNll(countAs: String)(scored: DataFrame): DataFrame =
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as(countAs),
        (sum(col("nll_micro")).cast("double") / (count(lit(1)) * 1e6)).as("avg_nll"))

  /** DuckDB twin of [[meanNll]] over the `scored` CTE. */
  private[graft] def meanNllSql(countAs: String): String =
    s"""SELECT doc_id, COUNT(*) AS $countAs,
       |  CAST(SUM(nll_micro) AS DOUBLE) / (COUNT(*) * 1000000.0) AS avg_nll
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin
  val textPerplexitySql: String =
    raw"""WITH toks AS (
         |  SELECT doc_id, unnest(${tokensSql("text")}) AS tok
         |  FROM documents
         |), vocab AS (
         |  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
         |), scored AS (
         |  SELECT t.doc_id,
         |    -${microNatsSql("CAST(v.cnt AS DOUBLE) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM toks)")} AS nll_micro
         |  FROM toks t JOIN vocab v ON t.tok = v.tok
         |)
         |${meanNllSql("n_toks")}""".stripMargin

  // ------------------------------------- Kneser-Ney bigram LM scoring
  /** Interpolated Kneser-Ney bigram LM quality scoring — the
    * CCNet/Gopher-style "train an n-gram LM, score every document"
    * curation signal, one order up from [[textPerplexity]]'s unigram:
    * a document full of individually-common tokens in IMPLAUSIBLE
    * order (shuffled text, keyword stuffing, word-salad spam) scores
    * well under a unigram model and badly here.
    *
    * Model (fixed discount D=0.75, the standard KN estimate):
    * {{{ P(w2|w1) = (c(w1,w2) - D)/c(w1·)
    *              + (D·N1+(w1·)/c(w1·)) · (N1+(·w2)/N1+(··)) }}}
    * where c(w1·) is the bigram-token count starting with w1,
    * N1+(w1·)/N1+(·w2) are distinct-continuation counts and N1+(··)
    * the bigram-type total. The LM is trained on the scored corpus
    * itself, so every scored bigram has c >= 1 and the max(c-D, 0)
    * clamp is vacuous — no OOV path needed. Scores are avg
    * negative-log-likelihood in nats per bigram (monotone in
    * perplexity); docs under 2 tokens have no bigram and drop, like
    * the unigram row drops token-less docs.
    *
    * Scale shape: bigram extraction is a pure map (zip_with inside the
    * row, no explode-then-self-join); the three LM tables are
    * map-side-combined hash aggregates bounded by bigram-TYPE count
    * (Zipf-bounded, << token count); scoring re-joins the bigram
    * stream to the LM. Unlike a benchmark index, bigram-type counts
    * GROW with the corpus (near-linearly under Zipf), so the broadcast
    * is GUARDED, not assumed — the type count (already paid for the
    * continuation normalizer) picks broadcast under
    * [[LmBroadcastMaxTypes]] and otherwise leaves the strategy to
    * AQE's runtime statistics (shuffle equi-joins on LM keys; document
    * text never moves either way). Same enforced-precondition
    * discipline as ccFixpointDelta's membership guard. One per-doc
    * aggregate ends the plan.
    *
    * Engine parity: same micro-nats discipline as [[textPerplexity]]
    * (per-bigram ln rounds to integer micro-nats before the order-free
    * integer sum), and P itself is built from the SAME
    * parenthesization of exact-IEEE +,-,*,/ on both engines, so the
    * only cross-engine wobble is a last-ulp `ln` difference absorbed
    * by the rounding — with the same acknowledged
    * within-an-ulp-of-.5 residual risk. */
  private[graft] val KnDiscount = 0.75
  private[graft] val LmBroadcastMaxTypes = 2000000L
  def textBigramKn(s: SparkSession, d: String): DataFrame =
    textBigramKnWith(s, d, LmBroadcastMaxTypes)

  /** The per-occurrence bigram stream `(doc_id, w1, w2)` — the shared
    * base of the LM and collocation rows. */
  private def bigramStream(s: SparkSession, d: String): DataFrame =
    bigrams(Tables.documents(s, d).select(col("doc_id"), tokens(col("text")).as("t")))

  /** Bigram type counts `(w1, w2, c)` of a bigram stream. */
  private[graft] def bigramCounts(bi: DataFrame): DataFrame =
    bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))

  /** The Kneser-Ney context tables of bigram type counts: `(w1, ctot,
    * n1f)` (occurrences and continuation types after w1) and `(w2, n1b)`
    * (context types before w2). */
  private[graft] def knContexts(big: DataFrame): (DataFrame, DataFrame) =
    (big.groupBy(col("w1")).agg(sum(col("c")).as("ctot"), count(lit(1)).as("n1f")),
      big.groupBy(col("w2")).agg(count(lit(1)).as("n1b")))

  /** ONE scalar action over bigram type counts: the type count (the
    * continuation normalizer) and the distinct w1 and w2 counts (the row
    * counts of the two context tables, i.e. their broadcast-guard sizes). */
  private[graft] def knSizes(big: DataFrame): (Long, Long, Long) = {
    val st = big.agg(count(lit(1)), countDistinct(col("w1")), countDistinct(col("w2"))).first()
    (st.getLong(0), st.getLong(1), st.getLong(2))
  }

  /** `df` broadcast when its counted `rows` are within `maxRows`, else
    * left to AQE's runtime statistics. */
  private[graft] def broadcastUnder(df: DataFrame, rows: Long, maxRows: Long): DataFrame =
    if (rows <= maxRows) broadcast(df) else df

  /** DuckDB CTEs `bi` (the bigram stream of the `(doc_id, t)` rows in
    * `docs`) and `big` (its type counts): the oracle twins of
    * [[bigramStream]] and [[bigramCounts]]. */
  private[graft] def bigramCountsSql(docs: String): String =
    s"""bi AS (
       |  ${bigramsSql(docs)}
       |), big AS (
       |  SELECT w1, w2, COUNT(*) AS c FROM bi GROUP BY w1, w2
       |)""".stripMargin

  /** [[bigramCountsSql]] plus the [[knContexts]] twins `fwd` and `bwd`. */
  private[graft] def knTablesSql(docs: String): String =
    s"""${bigramCountsSql(docs)}, fwd AS (
       |  SELECT w1, CAST(SUM(c) AS BIGINT) AS ctot, COUNT(*) AS n1f
       |  FROM big GROUP BY w1
       |), bwd AS (
       |  SELECT w2, COUNT(*) AS n1b FROM big GROUP BY w2
       |)""".stripMargin

  /** Guard-parameterized body: the gate row always runs the default
    * [[LmBroadcastMaxTypes]]; specs and scale arms pass a tiny bound to
    * force the above-guard regime on a small corpus (regime equality is
    * spec-asserted, and the 1/10/100x arm crosses the real bound
    * naturally at x100). */
  private[graft] def textBigramKnWith(s: SparkSession, d: String,
      maxTypes: Long): DataFrame = {
    import s.implicits._
    val bi = bigramStream(s, d)
    val big = bigramCounts(bi)
    val (fwd, bwd) = knContexts(big)
    // ONE scalar action (same as textPerplexity's token total) yields
    // the continuation normalizer AND all three broadcast-guard sizes —
    // no extra pass over the un-persisted train pipeline
    val (nTypesL, nFwd, nBwd) = knSizes(big)
    val nTypes = nTypesL.toDouble
    // PER-TABLE guard: the context tables (fwd/bwd) are VOCAB-bounded —
    // one row per distinct context/continuation token — while big has a
    // row per bigram TYPE (measured 8.3x larger at the x100 synth
    // corpus, 11.6M vs vocab-scale). Above the guard only the oversized
    // table's join shuffles the scoring stream; a still-small context
    // table keeps broadcasting.
    def lm(df: DataFrame, rows: Long): DataFrame = broadcastUnder(df, rows, maxTypes)
    val p = ($"c".cast("double") - KnDiscount) / $"ctot".cast("double") +
      (lit(KnDiscount) * $"n1f".cast("double") / $"ctot".cast("double")) *
        ($"n1b".cast("double") / lit(nTypes))
    // One join tree serves BOTH regimes: under the guard each table
    // broadcasts (the scoring stream never moves — PlanLawSpec pins
    // it); above the guard the oversized table's join falls back to an
    // AQE shuffle equi-join on the token strings. A round-18 experiment
    // respelled the above-guard join onto 60-bit gram keys (context
    // broadcasts first, strings dropped, fixed-width shuffle — the
    // dedup_segments trick) and MEASURED IT WORSE: x100 shuffle rose
    // 2274 -> 2385 MB (+5%) because lz4 compresses the Zipf-repeated
    // token strings better than incompressible hash keys, and the
    // per-occurrence md5 added CPU. Kept as the string join on that
    // evidence (table in BENCH_NOTES round 18); regime equality of the
    // guard fallback itself is spec-pinned via this maxTypes parameter
    // (TextBigramKnSpec forces maxTypes=0).
    bi.join(lm(big, nTypesL), Seq("w1", "w2"))
      .join(lm(fwd, nFwd), Seq("w1"))
      .join(lm(bwd, nBwd), Seq("w2"))
      .withColumn("nll_micro", -microNats(p))
      .transform(meanNll("n_bigrams"))
      .orderBy($"doc_id")
  }
  val textBigramKnSql: String = {
    val p =
      """(CAST(big.c AS DOUBLE) - 0.75) / CAST(fwd.ctot AS DOUBLE)
        |      + (0.75 * CAST(fwd.n1f AS DOUBLE) / CAST(fwd.ctot AS DOUBLE))
        |        * (CAST(bwd.n1b AS DOUBLE)
        |           / (SELECT CAST(COUNT(*) AS DOUBLE) FROM big))""".stripMargin
    raw"""WITH toks AS (
         |  SELECT doc_id, ${tokensSql("text")} AS t FROM documents
         |), ${knTablesSql("toks")}, scored AS (
         |  SELECT bi.doc_id,
         |    -${microNatsSql(p)} AS nll_micro
         |  FROM bi
         |  JOIN big ON bi.w1 = big.w1 AND bi.w2 = big.w2
         |  JOIN fwd ON bi.w1 = fwd.w1
         |  JOIN bwd ON bi.w2 = bwd.w2
         |)
         |${meanNllSql("n_bigrams")}""".stripMargin
  }

  /** Top-K collocations by pointwise mutual information
    * (`text_pmi_top`): the classic collocation extractor a corpus
    * audit runs — rank bigram TYPES by
    * PMI = ln(c(w1,w2)·N / (c(w1,·)·c(·,w2))) above a minimum count
    * (noise floor [[PmiMinCount]]), keep the top [[PmiTopK]].
    *
    * Scale shape: everything after the one occurrence-stream aggregate
    * is TYPE-bounded — the marginals are vocab-sized and meet the type
    * table through guarded broadcasts (the [[LmBroadcastMaxTypes]]
    * discipline, counts fused into one scalar action with the
    * normalizer), and the ranking plans as TakeOrderedAndProject
    * (K-bounded per partition, never a global sort of the vocabulary —
    * PlanLawSpec pins both laws). Engine parity: c·N and c1·c2 are
    * exact integer-valued doubles (< 2^53), the quotient is one IEEE
    * division spelled with the same parenthesization in the oracle, and
    * the ln ulp is absorbed by micro-nat rounding before the
    * deterministic (pmi_micro desc, w1, w2) tiebreak — the
    * [[textBigramKn]] discipline pointed at a ranking. */
  private[graft] val PmiMinCount = 5L
  private[graft] val PmiTopK = 100
  def textPmiTop(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val big = bigramCounts(bigramStream(s, d))
    val fwd = big.groupBy($"w1").agg(sum($"c").as("c1"))
    val bwd = big.groupBy($"w2").agg(sum($"c").as("c2"))
    // one scalar action: the PMI normalizer N and both marginal-table
    // broadcast guards (vocab-bounded, but counted, never assumed)
    val stats = big.agg(sum($"c"), countDistinct($"w1"),
      countDistinct($"w2")).first()
    // SUM over an empty bigram table is NULL (a corpus of <2-token
    // docs), where the counts are 0 — same empty result, no NPE
    val (nTotL, nFwd, nBwd) =
      (if (stats.isNullAt(0)) 0L else stats.getLong(0),
        stats.getLong(1), stats.getLong(2))
    def mar(df: DataFrame, rows: Long): DataFrame = broadcastUnder(df, rows, LmBroadcastMaxTypes)
    big.filter($"c" >= PmiMinCount)
      .join(mar(fwd, nFwd), Seq("w1"))
      .join(mar(bwd, nBwd), Seq("w2"))
      .withColumn("pmi_micro", microNats(
        ($"c".cast("double") * lit(nTotL.toDouble)) /
          ($"c1".cast("double") * $"c2".cast("double"))))
      .select($"w1", $"w2", $"c", $"pmi_micro")
      .orderBy($"pmi_micro".desc, $"w1", $"w2")
      .limit(PmiTopK)
  }
  val textPmiTopSql: String = {
    val pmi =
      """(CAST(big.c AS DOUBLE) * (SELECT CAST(SUM(c) AS DOUBLE) FROM big))
        |    / (CAST(fwd.c1 AS DOUBLE) * CAST(bwd.c2 AS DOUBLE))""".stripMargin
    raw"""WITH toks AS (
         |  SELECT doc_id, ${tokensSql("text")} AS t FROM documents
         |), ${bigramCountsSql("toks")}, fwd AS (
         |  SELECT w1, CAST(SUM(c) AS BIGINT) AS c1 FROM big GROUP BY w1
         |), bwd AS (
         |  SELECT w2, CAST(SUM(c) AS BIGINT) AS c2 FROM big GROUP BY w2
         |)
         |SELECT big.w1, big.w2, big.c,
         |  ${microNatsSql(pmi)} AS pmi_micro
         |FROM big
         |JOIN fwd ON big.w1 = fwd.w1
         |JOIN bwd ON big.w2 = bwd.w2
         |WHERE big.c >= $PmiMinCount
         |ORDER BY pmi_micro DESC, big.w1, big.w2 LIMIT $PmiTopK""".stripMargin
  }

  // ------------------------------------------------ corpus heavy hitters
  /** Corpus-level heavy hitters: the [[NgramTopK]] adjacent bigrams with
    * the highest DOCUMENT frequency (each doc votes once per distinct
    * bigram — df, not raw term count, so one repetitive document cannot
    * elect a heavy hitter). The table a curation pipeline watches for
    * boilerplate phrases worth adding to a line-dedup blocklist.
    *
    * Scale shape: shingle-explode is a pure map (distinct-per-doc is
    * local, inside the array), the df count is one map-side-combined hash
    * agg keyed by bigram (vocabulary-sized, zipf-bounded), and the top-K
    * runs as TakeOrdered — O(K) heap per partition plus a K-row driver
    * merge, never a global sort of the vocabulary. Tie-break on the
    * bigram string makes the cut deterministic. */
  private[graft] val NgramTopK = 50
  def topNgrams(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Par.spread(Tables.documents(s, d), $"doc_id")
      // toks as its own projected column: inlining tokens() into shingles
      // re-runs the regexp split once PER SHINGLE inside the transform
      // lambda (the Dedup.docShinglesOf fusion trap; 4x on this query) —
      // CollapseProject keeps a multiply-referenced expensive alias.
      .withColumn("toks", tokens($"text"))
      .select($"doc_id", explode(shingles($"toks", 2)).as("bigram"))
      .groupBy($"bigram")
      .agg(count(lit(1)).as("df"))
      .orderBy($"df".desc, $"bigram")
      .limit(NgramTopK)
  }
  val topNgramsSql: String =
    raw"""WITH toks AS (
         |  SELECT doc_id, ${tokensSql("text")} AS t FROM documents
         |), bg AS (
         |  SELECT DISTINCT doc_id, t[gs] || ' ' || t[gs + 1] AS bigram
         |  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(gs)
         |  WHERE len(t) >= 2)
         |SELECT bigram, CAST(COUNT(*) AS BIGINT) AS df
         |FROM bg GROUP BY bigram
         |ORDER BY df DESC, bigram LIMIT $NgramTopK""".stripMargin

  // --------------------------------------------- BPE pair-count kernel
  /** The distributed kernel of BPE tokenizer training: corpus-weighted
    * adjacent character-pair counts over the word vocabulary, top
    * [[BpeTopK]] (count desc, pair asc — BPE's deterministic merge pick).
    * Full vocabulary learning is a driver-coordinated loop of exactly
    * this kernel (count pairs → merge the top pair → recount), the same
    * iterate-a-distributed-aggregate pattern as the Lloyd loops in
    * [[Clustering]]; the kernel is the part that touches corpus-scale
    * data, so it is the part that must distribute.
    *
    * Scale shape: word counting collapses the corpus to its vocabulary
    * (one map-side-combined hash agg — pair statistics then cost
    * O(vocab), not O(corpus), which is why real BPE trainers count words
    * first), pair explode is a pure map over vocab rows, and the final
    * count is a second hash agg + TakeOrdered. */
  private[graft] val BpeTopK = 30
  def bpePairCounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    wordCounts(s, d)
      .select($"wc", explode(
        when(length($"w") >= 2,
          transform(sequence(lit(1), length($"w") - 1),
            i => concat($"w".substr(i, lit(1)), lit(" "), $"w".substr(i + 1, lit(1)))))
          .otherwise(array().cast("array<string>"))).as("pair"))
      .groupBy($"pair")
      .agg(sum($"wc").as("n"))
      .orderBy($"n".desc, $"pair")
      .limit(BpeTopK)
  }
  /** The corpus as its weighted vocabulary `(w, wc)`: the one corpus-scale
    * pass of the BPE rows. */
  private def wordCounts(s: SparkSession, d: String): DataFrame =
    Par.spread(Tables.documents(s, d), col("doc_id"))
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))

  /** DuckDB twin of [[wordCounts]]: the `words` CTE. */
  private val WordCountsSql: String =
    raw"""words AS (
         |  SELECT w, COUNT(*) AS wc
         |  FROM (SELECT unnest(${tokensSql("text")}) AS w FROM documents)
         |  GROUP BY w)""".stripMargin

  val bpePairCountsSql: String =
    raw"""WITH $WordCountsSql, pairs AS (
         |  SELECT substring(w, gs, 1) || ' ' || substring(w, gs + 1, 1) AS pair, wc
         |  FROM words, UNNEST(generate_series(1, length(w) - 1)) AS u(gs)
         |  WHERE length(w) >= 2)
         |SELECT pair, CAST(SUM(wc) AS BIGINT) AS n
         |FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT $BpeTopK""".stripMargin

  // ------------------------------------------------ BPE vocab learning
  /** End-to-end BPE tokenizer training: [[BpeMerges]] driver-coordinated
    * merge rounds over the [[bpePairCounts]] kernel — count adjacent
    * pairs, merge the top pair (count desc, pair asc: BPE's
    * deterministic pick) into every word, recount — the same
    * iterate-a-distributed-aggregate discipline as the Lloyd loops
    * ([[Clustering.embKmeans]]). Output is the learned merge table:
    * one (round, pair, n) row per merge, i.e. the vocabulary beyond the
    * character alphabet.
    *
    * Representation: each word becomes its token sequence spelled as a
    * SENTINEL-WRAPPED string — every token is `tok` — so
    * "merge pair (a,b) leftmost-first non-overlapping" (the BPE merge
    * rule) is EXACTLY one literal `replace(ws, ⟨a⟩⟨b⟩, ⟨ab⟩)`: both
    * Spark's `replace` and DuckDB's scan left-to-right over
    * non-overlapping occurrences, and the sentinels make a token
    * boundary impossible to match across (the pattern `⟨a⟩⟨b⟩` cannot
    * occur inside `⟨ya⟩⟨b⟩`). That one identity is what lets an
    * ITERATIVE tokenizer-training loop be DuckDB-hash-gated at all.
    *
    * Scale shape: the corpus collapses to its weighted vocabulary ONCE
    * (the kernel's map-side-combined hash agg — this is the only
    * corpus-scale pass); every merge round is a narrow projection over
    * vocab rows plus one vocabulary-keyed pair aggregate whose TOP-1
    * reaches the driver (TakeOrdered — K=1 heap per partition). Round
    * r recomputes r cheap `replace` projections from the persisted
    * vocab rather than caching per-round frames: at N≈tens of merges
    * the recompute is vocab-sized narrow work, the price of not holding
    * N persisted copies. */
  private[graft] val BpeMerges = 6
  private val TokL = "\u0001" // token open sentinel (a byte no whitespace-split token contains)
  private val TokR = "\u0002" // token close sentinel
  def bpeVocabLearn(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val words = wordCounts(s, d)
      .select(regexp_replace($"w", "(.)", s"$TokL$$1$TokR").as("ws"), $"wc")
      .persist()
    try {
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
      var cur: DataFrame = words
      var r = 1
      var exhausted = false
      while (r <= BpeMerges && !exhausted) {
        val toks = split($"ws".substr(lit(2), greatest(length($"ws") - 2, lit(0))), s"$TokR$TokL")
        // Option, not (0): a corpus whose words all collapse to single
        // tokens before BpeMerges rounds has zero adjacent pairs left —
        // emit only the realized rounds instead of throwing on an empty
        // top-1 (the oracle degrades the same way via its HAVING guard)
        cur
          .select($"wc", when(size(toks) >= 2,
            transform(sequence(lit(1), size(toks) - 1),
              i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
            .otherwise(array().cast("array<string>")).as("ps"))
          .select($"wc", explode($"ps").as("pair"))
          .groupBy($"pair").agg(sum($"wc").as("n"))
          .orderBy($"n".desc, $"pair").limit(1)
          .collect().headOption match {
          case None => exhausted = true
          case Some(top) =>
            val pair = top.getString(0)
            merges += ((r, pair, top.getLong(1)))
            val Array(a, b) = pair.split(" ", 2)
            cur = cur.withColumn("ws",
              replace($"ws", lit(s"$TokL$a$TokR$TokL$b$TokR"), lit(s"$TokL$a$b$TokR")))
            r += 1
        }
      }
      s.createDataFrame(merges.toSeq).toDF("round", "pair", "n")
    } finally words.unpersist()
  }

  /** A merge-table `pair` "a b" as the sentinel-wrapped `⟨a⟩⟨b⟩` a merge
    * replaces, and as the merged token `⟨ab⟩`. */
  private val BpePairSql =
    "chr(1) || string_split(pair, ' ')[1] || chr(2) || chr(1) || string_split(pair, ' ')[2] || chr(2)"
  private val BpeMergedSql = "chr(1) || replace(pair, ' ', '') || chr(2)"

  /** DuckDB replica of [[bpeVocabLearn]]: the same merge rounds unrolled
    * as a CTE chain (the [[Clustering.lloydSql]] discipline) — per round
    * a top-1 pair CTE `p<r>` and a `replace`-merged sequence CTE
    * `seq<r>`, the top pair entering the replace as scalar subqueries.
    * [[bpeEncodeSql]] runs the same chain. */
  private val BpeLearnCtesSql: String = {
    val seq0 =
      raw"""seq0 AS (
           |  SELECT regexp_replace(w, '(.)', chr(1) || '\1' || chr(2), 'g') AS ws, wc FROM words)""".stripMargin
    val rounds = (1 to BpeMerges).map { r =>
      raw"""p$r AS (
           |  SELECT t[gs] || ' ' || t[gs + 1] AS pair, CAST(SUM(wc) AS BIGINT) AS n
           |  FROM (SELECT string_split(substr(ws, 2, greatest(length(ws) - 2, 0)), chr(2) || chr(1)) AS t, wc
           |        FROM seq${r - 1}) s,
           |       UNNEST(generate_series(1, len(t) - 1)) AS u(gs)
           |  GROUP BY 1 ORDER BY n DESC, pair LIMIT 1),
           |seq$r AS (
           |  SELECT replace(ws, (SELECT $BpePairSql FROM p$r), (SELECT $BpeMergedSql FROM p$r)) AS ws, wc
           |  FROM seq${r - 1})""".stripMargin
    }
    (WordCountsSql +: seq0 +: rounds).mkString(",\n")
  }

  val bpeVocabLearnSql: String = {
    val unions = (1 to BpeMerges)
      .map(r => s"SELECT $r AS round, pair, n FROM p$r").mkString("\nUNION ALL\n")
    s"WITH $BpeLearnCtesSql\n$unions\nORDER BY round"
  }

  // -------------------------------------------------- BPE encode (apply)
  /** Apply a learned BPE merge table to the corpus — the inference half
    * of the tokenizer whose training half is [[bpeVocabLearn]]: per
    * document, the character-unit count before merging and the token
    * count after all merges, with the compression in exact ppm. The
    * per-doc token count is the #1 bookkeeping quantity of a training
    * pipeline (sequence packing, token budgets, mixture weights all key
    * off it), and this is how it's actually produced: a TRAINED
    * tokenizer applied corpus-wide.
    *
    * Train-once discipline: the merge table comes from the [[Models]]
    * store keyed by an input fingerprint + hyperparams — the first call
    * in a JVM runs the learn loop and commits the table as parquet,
    * every later call (and every other operator that wants the
    * tokenizer) reloads it with ZERO training jobs, exactly like the PQ
    * codebooks ([[Clustering]]).
    *
    * Execution shape: the merge table is a driver-side constant (≤
    * [[BpeMerges]] rows), so encoding compiles to a chain of literal
    * `replace` calls over the sentinel-wrapped text — one codegen'd
    * narrow projection over the corpus, no shuffle, no UDF. The
    * sentinel spelling makes each merge the same leftmost-first
    * non-overlapping `replace` on both engines (see [[bpeVocabLearn]]'s
    * representation note); whitespace stays unwrapped, so a merge can
    * never span a word boundary — identical to the learn loop's
    * word-local view. */
  /** The learned merge table (Models train-once artifact) folded into
    * the two unit-count COLUMNS over `text` — the narrow-map core both
    * [[bpeEncode]] and [[tokenizerFertility]] project, so the fertility
    * audit never needs a doc_id join back onto the encode output. */
  private def bpeUnitCols(s: SparkSession, d: String): (Column, Column) = {
    import s.implicits._
    val key = s"bpe:${Models.inputFingerprint(d)}:m$BpeMerges"
    val merges: Seq[String] = Models.artifact[Seq[String]](key) { dir =>
      bpeVocabLearn(s, d).write.mode("overwrite").parquet(dir)
    } { dir =>
      s.read.parquet(dir).orderBy($"round").collect()
        .map(_.getAs[String]("pair")).toSeq
    }
    val enc0 = regexp_replace($"text", "(\\S)", s"$TokL$$1$TokR")
    val encN = merges.foldLeft(enc0) { (c, pair) =>
      val Array(a, b) = pair.split(" ", 2)
      replace(c, lit(s"$TokL$a$TokR$TokL$b$TokR"), lit(s"$TokL$a$b$TokR"))
    }
    def units(c: Column): Column =
      (length(c) - length(replace(c, lit(TokL), lit("")))).cast("long")
    (units(enc0), units(encN))
  }

  def bpeEncode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (charUnits, bpeUnits) = bpeUnitCols(s, d)
    Tables.documents(s, d)
      .select($"doc_id", charUnits.as("n_char_units"), bpeUnits.as("n_bpe_units"))
      .withColumn("saved_ppm",
        expr("case when n_char_units = 0 then 0 else ((n_char_units - n_bpe_units) * 1000000) div n_char_units end"))
      .orderBy($"doc_id")
  }
  /** DuckDB replica: the learn chain's CTEs (those of
    * [[bpeVocabLearnSql]]) feed per-round scalar subqueries into a chain
    * of document-side `replace` steps; COALESCE to a never-matching
    * sentinel makes an unrealized round (empty p_r) a no-op, exactly as
    * the Spark fold over only the realized merges. */
  val bpeEncodeSql: String = {
    val docRounds = (1 to BpeMerges).map { r =>
      raw"""e$r AS (
           |  SELECT doc_id,
           |    replace(e, COALESCE((SELECT $BpePairSql FROM p$r), chr(3)),
           |               COALESCE((SELECT $BpeMergedSql FROM p$r), chr(3))) AS e,
           |    n_char_units
           |  FROM e${r - 1})""".stripMargin
    }
    val doc0 =
      raw"""e0 AS (
           |  SELECT doc_id, regexp_replace(text, '(\S)', chr(1) || '\1' || chr(2), 'g') AS e,
           |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS n_char_units
           |  FROM documents)""".stripMargin
    s"""WITH $BpeLearnCtesSql,\n${(doc0 +: docRounds).mkString(",\n")}
       |SELECT doc_id, n_char_units,
       |  CAST(length(e) - length(replace(e, chr(1), '')) AS BIGINT) AS n_bpe_units,
       |  CASE WHEN n_char_units = 0 THEN 0
       |       ELSE ((n_char_units - (length(e) - length(replace(e, chr(1), '')))) * 1000000) // n_char_units END AS saved_ppm
       |FROM e$BpeMerges ORDER BY doc_id""".stripMargin
  }

  /** Per-language tokenizer-fertility audit (`tokenizer_fertility`):
    * BPE units per whitespace word and per character, aggregated by
    * language, using the SAME learned merge table as `bpe_encode` (the
    * Models train-once artifact — this row pays zero re-learning). This
    * is the multilingual fairness check a tokenizer review runs: a
    * language whose fertility_ppm is far above the corpus norm pays
    * more sequence length (= more compute, shorter effective context)
    * per word, the classic under-served-script signal.
    *
    * All ratios are non-negative integer divisions on exact long sums,
    * so both engines agree bit-for-bit; scale shape is ONE narrow map
    * over documents (the [[bpeUnitCols]] merge-table projection and the
    * word count side by side — no doc_id join back onto the encode
    * output, which a naive spelling pays as a corpus-wide shuffle of
    * both scans) plus one languages-sized aggregate. */
  def tokenizerFertility(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (charUnits, bpeUnits) = bpeUnitCols(s, d)
    Tables.documents(s, d)
      .select($"lang", size(tokens($"text")).cast("long").as("n_words"),
        charUnits.as("n_char_units"), bpeUnits.as("n_bpe_units"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_words").as("n_words"),
        sum($"n_bpe_units").as("n_bpe_units"),
        sum($"n_char_units").as("n_char_units"))
      .withColumn("fertility_ppm", expr("(n_bpe_units * 1000000) div n_words"))
      .withColumn("compression_ppm",
        expr("case when n_char_units = 0 then 0 else ((n_char_units - n_bpe_units) * 1000000) div n_char_units end"))
      .orderBy($"lang")
  }
  val tokenizerFertilitySql: String =
    raw"""SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(len(${tokensSql("d.text")})) AS BIGINT) AS n_words,
         |  CAST(SUM(b.n_bpe_units) AS BIGINT) AS n_bpe_units,
         |  CAST(SUM(b.n_char_units) AS BIGINT) AS n_char_units,
         |  (CAST(SUM(b.n_bpe_units) AS BIGINT) * 1000000)
         |    // CAST(SUM(len(${tokensSql("d.text")})) AS BIGINT) AS fertility_ppm,
         |  CASE WHEN CAST(SUM(b.n_char_units) AS BIGINT) = 0 THEN 0
         |       ELSE ((CAST(SUM(b.n_char_units) AS BIGINT) - CAST(SUM(b.n_bpe_units) AS BIGINT)) * 1000000)
         |              // CAST(SUM(b.n_char_units) AS BIGINT) END AS compression_ppm
         |FROM ($bpeEncodeSql) b JOIN documents d USING (doc_id)
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  val rows: Seq[QueryDef] = Seq(
    QueryDef("tokenizer_fertility", tokenizerFertility _, tokenizerFertilitySql),
    QueryDef("bpe_vocab_learn", bpeVocabLearn _, bpeVocabLearnSql),
    QueryDef("bpe_encode", bpeEncode _, bpeEncodeSql),
    QueryDef("bpe_pair_counts", bpePairCounts _, bpePairCountsSql),
    QueryDef("top_ngrams", topNgrams _, topNgramsSql),
    QueryDef("text_token_count", textTokenCount _, textTokenCountSql),
    QueryDef("text_quality", textQuality _, textQualitySql),
    QueryDef("text_fingerprint_groups", textFingerprintGroups _, textFingerprintGroupsSql),
    QueryDef("text_lang_id", textLangId _, textLangIdSql),
    QueryDef("text_perplexity", textPerplexity _, textPerplexitySql),
    QueryDef("text_bigram_kn", textBigramKn _, textBigramKnSql),
    QueryDef("text_pmi_top", textPmiTop _, textPmiTopSql),
  )
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.functions.Parity.{md5Key, md5KeySql, ngrams, ngramsSql, punctRatio, punctRatioSql,
  stopwordRatio, stopwordRatioSql, tokens, tokensSql}
import graft.queries.Tables

/** Corpus-curation operators a training-data pipeline runs before any
  * token reaches a model: benchmark decontamination (n-gram overlap
  * against an eval set), repetition-based quality filtering (the Gopher
  * filters), and co-occurrence scoring over a bounded vocabulary.
  *
  * All three are oracle-checked: every score is either an exact integer
  * or a single IEEE division of exact integers, so Spark and DuckDB
  * produce bit-identical values.
  */
object Curation {

  // ----------------------------------------------------- decontamination
  private[graft] val ContamN = 8 // gram order; 13 is standard, docs here are short

  /** Benchmark contamination report: for every doc in the held-out eval
    * slice (doc_id % 10 == 7), how many training-corpus docs share at
    * least one [[ContamN]]-gram with it, and how many distinct grams
    * leak. Every eval doc reports (zeros included) so the result size is
    * the eval-set size, not data-dependent.
    *
    * Scale shape: both sides explode to (gram-key, doc) pairs — a pure
    * map — then meet in ONE equi-join on the 60-bit key; the corpus is
    * never collected or broadcast, and the distinct() before counting
    * bounds duplicate grams within a doc. At 100 TB the corpus side is
    * the big relation and shuffles once, partitioned by gram key. */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    decontaminateWith(s, d, $"doc_id" % 10 === 7)
  }

  /** [[decontaminate]] parameterized by the eval-slice membership
    * predicate (a boolean Column over doc_id). The gate row passes the
    * `% 10 == 7` slice — which GROWS with the corpus, a harness
    * convenience that bakes a Σ df_bench·df_corpus quadratic into the
    * scale arm by construction. Production contamination checks run a
    * FIXED benchmark against a growing corpus; the scale harness's
    * `decon_fixed_eval` arm passes `% 10 == 7 AND doc_id < base` to
    * measure THAT regime (eval pinned at the ×1 slice, every other doc
    * is corpus). */
  private[graft] def decontaminateWith(s: SparkSession, d: String,
      isEval: Column): DataFrame = {
    val docs = contamDocs(s, d)
    val bench = contamGrams(docs.filter(isEval)).distinct()
      .withColumnRenamed("doc_id", "bench_id")
    contamReport(s, d, isEval, bench, contamGrams(docs.filter(!isEval)).distinct())
  }

  /** The documents with at least [[ContamN]] tokens, as `(doc_id, t)`. */
  private def contamDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= ContamN)

  /** Every `(doc_id, gk)` [[ContamN]]-gram key of [[contamDocs]] rows,
    * duplicates kept. */
  private def contamGrams(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), explode(ngrams(col("t"), ContamN)).as("g"))
    .select(col("doc_id"), md5Key(col("g"), 15).as("gk"))

  /** The contamination report of the eval docs (`isEval`) from the
    * distinct gram keys of the eval side `(bench_id, gk)` and the corpus
    * side `(doc_id, gk)`: every eval doc reports, zeros included. Shared
    * by both decontamination spellings. */
  private def contamReport(s: SparkSession, d: String, isEval: Column,
      bench: DataFrame, corpus: DataFrame): DataFrame = {
    val hits = bench.join(corpus, "gk")
      .groupBy(col("bench_id"))
      .agg(countDistinct(col("doc_id")).as("n_contaminated_docs"),
        countDistinct(col("gk")).as("n_shared_grams"))
    Tables.documents(s, d).filter(isEval)
      .select(col("doc_id").as("bench_id"))
      .join(hits, Seq("bench_id"), "left")
      .select(col("bench_id"),
        coalesce(col("n_contaminated_docs"), lit(0L)).as("n_contaminated_docs"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"))
      .orderBy(col("bench_id"))
  }
  val decontaminateSql: String =
    raw"""WITH toks AS (
         |  SELECT doc_id, ${tokensSql("text")} AS t FROM documents
         |), grams AS (
         |  SELECT DISTINCT doc_id,
         |    ${md5KeySql("g", 15)} AS gk
         |  FROM (SELECT doc_id,
         |          unnest(${ngramsSql("t", ContamN)}) AS g
         |        FROM toks WHERE len(t) >= $ContamN)
         |), hits AS (
         |  SELECT b.doc_id AS bench_id,
         |    COUNT(DISTINCT c.doc_id) AS n_contaminated_docs,
         |    COUNT(DISTINCT b.gk) AS n_shared_grams
         |  FROM grams b JOIN grams c ON b.gk = c.gk
         |  WHERE b.doc_id % 10 = 7 AND c.doc_id % 10 <> 7
         |  GROUP BY b.doc_id)
         |SELECT d.doc_id AS bench_id,
         |  COALESCE(h.n_contaminated_docs, 0) AS n_contaminated_docs,
         |  COALESCE(h.n_shared_grams, 0) AS n_shared_grams
         |FROM documents d LEFT JOIN hits h ON d.doc_id = h.bench_id
         |WHERE d.doc_id % 10 = 7
         |ORDER BY bench_id""".stripMargin

  /** Bloom-accelerated decontamination — IDENTICAL output to
    * [[decontaminate]] (it shares that oracle), different execution
    * shape for the 100 TB corpus. The asymmetry is structural: the eval
    * slice is a fixed benchmark (small forever) while the training
    * corpus grows with the crawl, yet [[decontaminate]] shuffles the
    * corpus's full exploded gram set twice (its distinct(), then the
    * join). Here the eval side's gram keys are folded into a bloom
    * filter by ONE distributed `BloomFilterAggregate` job (driver
    * traffic = the bloom's bytes), and the corpus's exploded grams are
    * pre-filtered by the codegen'd `might_contain` probe BEFORE both
    * shuffles — only ~fpp of non-matching grams survive to shuffle at
    * all. The exact equi-join then runs on the survivors, so bloom
    * false positives cannot change the report. Same primitive pair as
    * q39/q53, applied where a pipeline actually needs it.
    *
    * Honest cost note (BENCH_NOTES r11): at gate scale the bloom build
    * is an EXTRA pass over the eval grams, and the tiny corpus's saved
    * shuffle doesn't pay for it — sf0.1 reads ~2x the exact spelling
    * (0.9 vs 0.5 s). The crossover is where it always is for runtime
    * filters: when the corpus-side shuffle dwarfs the eval-side scan,
    * i.e. exactly the 100 TB regime this variant exists for. Both
    * spellings stay in the gate so the trade is measured, not assumed. */
  def decontaminateBloom(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    decontaminateBloomWith(s, d, $"doc_id" % 10 === 7)
  }

  /** [[decontaminateBloom]] parameterized by the eval-slice predicate —
    * same fixed-vs-growing-eval rationale as [[decontaminateWith]]. */
  private[graft] def decontaminateBloomWith(s: SparkSession, d: String,
      isEval: Column): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.graftshim.GraftShims
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val docs = contamDocs(s, d)
    val bench = contamGrams(docs.filter(isEval)).distinct()
      .withColumnRenamed("doc_id", "bench_id")
    val bloom = bench
      .agg(GraftShims.column(
        new BloomFilterAggregate(GraftShims.expression(xxhash64($"gk")))
          .toAggregateExpression()))
      .head().getAs[Array[Byte]](0)
    val probe = // empty eval slice => nothing can be contaminated
      if (bloom == null) lit(false)
      else GraftShims.column(BloomFilterMightContain(
        GraftShims.expression(lit(bloom)), GraftShims.expression(xxhash64($"gk"))))
    contamReport(s, d, isEval, bench, contamGrams(docs.filter(!isEval)).filter(probe).distinct())
  }

  // ------------------------------------------------- repetition quality
  /** Gopher-style repetition filters, per document: the fraction of all
    * 2-grams (and 3-grams) taken by the single most frequent one, and the
    * distinct-token fraction. High top-gram fractions flag boilerplate /
    * looping text; low distinct fractions flag token spam.
    *
    * Spelling: every metric is a PER-DOCUMENT reduction, so the whole
    * row is one shuffle-free projection — `max(c)/sum(c)` over a doc's
    * gram counts is [[graft.functions.ArrayTopCount]] (a codegen'd
    * one-pass histogram inside the row), distinct fraction is
    * `array_distinct`. The previous explode-then-aggregate spelling
    * shuffled every 2-gram and 3-gram occurrence of the corpus twice
    * each (groupBy(doc,g) then groupBy(doc)) plus a token explode and
    * two doc-keyed joins — five corpus-wide shuffles that this
    * projection deletes outright (measured at sf0.1: 1.53 s -> see
    * BENCH_NOTES round-17 table). The `size >= 3` filter reproduces the
    * old inner joins' row set exactly: a doc was kept iff it had at
    * least one 3-gram. */
  def textRepetition(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.ArrayTopCount.arrayTopCount
    Tables.documents(s, d).select($"doc_id", tokens($"text").as("t"))
      .filter(size($"t") >= 3)
      .select($"doc_id",
        arrayTopCount(ngrams($"t", 2)).as("g2"),
        arrayTopCount(ngrams($"t", 3)).as("g3"),
        (size(array_distinct($"t")).cast("double") / size($"t"))
          .as("distinct_frac"))
      .select($"doc_id",
        ($"g2.top_cnt".cast("double") / $"g2.total").as("top2_frac"),
        ($"g3.top_cnt".cast("double") / $"g3.total").as("top3_frac"),
        $"distinct_frac")
      .orderBy($"doc_id")
  }
  val textRepetitionSql: String = {
    def topFracSql(n: Int, out: String) =
      raw"""SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS $out
           |  FROM (SELECT doc_id, g, COUNT(*) AS c
           |        FROM (SELECT doc_id,
           |                unnest(${ngramsSql("t", n)}) AS g
           |              FROM toks WHERE len(t) >= $n)
           |        GROUP BY doc_id, g)
           |  GROUP BY doc_id""".stripMargin
    raw"""WITH toks AS (
         |  SELECT doc_id, ${tokensSql("text")} AS t FROM documents
         |), f2 AS (${topFracSql(2, "top2_frac")}
         |), f3 AS (${topFracSql(3, "top3_frac")}
         |), df AS (
         |  SELECT doc_id, CAST(COUNT(DISTINCT tok) AS DOUBLE) / COUNT(*) AS distinct_frac
         |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
         |  GROUP BY doc_id)
         |SELECT f2.doc_id, f2.top2_frac, f3.top3_frac, df.distinct_frac
         |FROM f2 JOIN f3 ON f2.doc_id = f3.doc_id JOIN df ON f2.doc_id = df.doc_id
         |ORDER BY f2.doc_id""".stripMargin
  }

  // ------------------------------------------------- co-occurrence lift
  private val VocabSize = 50
  private val TopPairs = 100

  /** Top co-occurring token pairs by lift = P(a,b) / (P(a)·P(b)) over
    * document-level presence, restricted to the [[VocabSize]] highest-df
    * tokens (PMI is the log of this; the raw ratio keeps the arithmetic
    * to one exact-integer division so the oracle matches bitwise).
    *
    * Scale shape: the vocabulary is bounded by construction, so the
    * per-doc token sets and the a<b self-join fan out to at most
    * VocabSize²/2 pairs per doc regardless of corpus size; counting is
    * two hash aggregates. The df ranking ties deterministically on the
    * token string. */
  def textCooccur(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // doc-level presence = per-doc distinct, computable INSIDE the row:
    // array_distinct before the explode replaces the corpus-wide
    // shuffled .distinct() the explode-first spelling needed (measured
    // at sf0.1: see BENCH_NOTES round-17 table) — the biggest shuffle
    // of this row deleted, and exactly the same (doc, tok) set
    val docTok = Tables.documents(s, d)
      .select($"doc_id", explode(array_distinct(tokens($"text"))).as("tok"))
    val nDocs = Tables.documents(s, d).count()
    val vocab = docTok.groupBy($"tok").agg(count(lit(1)).as("df"))
      .orderBy($"df".desc, $"tok").limit(VocabSize)
    val inVocab = docTok.join(broadcast(vocab), "tok")
    val pairs = inVocab.as("x")
      .join(inVocab.as("y"), $"x.doc_id" === $"y.doc_id" && $"x.tok" < $"y.tok")
      .groupBy($"x.tok".as("tok_a"), $"y.tok".as("tok_b"))
      .agg(count(lit(1)).as("n_ab"),
        first($"x.df").as("df_a"), first($"y.df").as("df_b"))
    pairs
      .select($"tok_a", $"tok_b", $"n_ab",
        (($"n_ab" * nDocs).cast("double") / ($"df_a" * $"df_b")).as("lift"))
      .orderBy($"lift".desc, $"tok_a", $"tok_b")
      .limit(TopPairs)
  }
  val textCooccurSql: String =
    raw"""WITH doctok AS (
         |  SELECT DISTINCT doc_id, unnest(${tokensSql("text")}) AS tok
         |  FROM documents
         |), vocab AS (
         |  SELECT tok, COUNT(*) AS df FROM doctok GROUP BY tok
         |  ORDER BY df DESC, tok LIMIT $VocabSize
         |), iv AS (
         |  SELECT dt.doc_id, dt.tok, v.df FROM doctok dt JOIN vocab v ON dt.tok = v.tok
         |), pairs AS (
         |  SELECT x.tok AS tok_a, y.tok AS tok_b, COUNT(*) AS n_ab,
         |    ANY_VALUE(x.df) AS df_a, ANY_VALUE(y.df) AS df_b
         |  FROM iv x JOIN iv y ON x.doc_id = y.doc_id AND x.tok < y.tok
         |  GROUP BY x.tok, y.tok)
         |SELECT tok_a, tok_b, n_ab,
         |  CAST(n_ab * (SELECT COUNT(*) FROM documents) AS DOUBLE) / (df_a * df_b) AS lift
         |FROM pairs
         |ORDER BY lift DESC, tok_a, tok_b LIMIT $TopPairs""".stripMargin

  // ---------------------------------------------- duplication fraction
  /** Per-document cross-corpus duplication fraction (the Gopher-family
    * "fraction of n-grams also found elsewhere" signal): of a document's
    * distinct [[DupFracN]]-grams, how many occur in at least one OTHER
    * document — a high fraction marks boilerplate-heavy or templated
    * documents that per-doc repetition metrics ([[textRepetition]])
    * cannot see because the repetition is across documents. Every
    * document reports (a doc shorter than the gram order reports zero
    * grams and a NULL fraction).
    *
    * Scale shape: distinct (doc, 60-bit gram key) pairs — an 8-byte
    * shuffle key, never the gram text — one vocabulary-sized hash agg
    * for document frequency, one equi-join back (each pair matches
    * exactly one df row, so there is no fan-out to skew), one per-doc
    * hash agg. The fraction is one exact-integer IEEE division. */
  private[graft] val DupFracN = 3
  def docDupFrac(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // persisted: consumed by both the df aggregate and the join back —
    // without the pin the explode + per-gram md5 + distinct runs twice
    // (surfaced by the round-15 noop-sink measurement, 3.4 s -> ~2 s)
    val grams = Par.spread(Tables.documents(s, d), $"doc_id")
      .withColumn("t", tokens($"text"))
      .select($"doc_id", explode(ngrams($"t", DupFracN)).as("g"))
      .select($"doc_id", md5Key($"g", 15).as("k"))
      .distinct()
      .persist()
    val dfreq = grams.groupBy($"k").agg(count(lit(1)).as("df"))
    val per = grams.join(dfreq, "k")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when($"df" > 1, 1L).otherwise(0L)).as("n_dup"))
    Tables.documents(s, d).select($"doc_id")
      .join(per, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_grams", lit(0L)).as("n_grams"),
        coalesce($"n_dup", lit(0L)).as("n_dup"))
      .withColumn("dup_frac",
        when($"n_grams" > 0, $"n_dup".cast("double") / $"n_grams"))
      .orderBy($"doc_id")
  }
  val docDupFracSql: String =
    raw"""WITH toks AS (
         |  SELECT doc_id, ${tokensSql("text")} AS t FROM documents
         |), grams AS (
         |  SELECT DISTINCT doc_id, ${md5KeySql("g", 15)} AS k
         |  FROM (SELECT doc_id,
         |          unnest(${ngramsSql("t", DupFracN)}) AS g
         |        FROM toks WHERE len(t) >= $DupFracN)
         |), dfreq AS (
         |  SELECT k, COUNT(*) AS df FROM grams GROUP BY k
         |), per AS (
         |  SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         |    CAST(SUM(CASE WHEN f.df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         |  FROM grams g JOIN dfreq f ON g.k = f.k GROUP BY g.doc_id)
         |SELECT d.doc_id, COALESCE(p.n_grams, 0) AS n_grams,
         |  COALESCE(p.n_dup, 0) AS n_dup,
         |  CASE WHEN COALESCE(p.n_grams, 0) > 0
         |       THEN CAST(p.n_dup AS DOUBLE) / p.n_grams END AS dup_frac
         |FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
         |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------ quality-filter cascade
  /** Quality-filter cascade with attrition accounting: every document gets
    * the FIRST rule it fails (or `pass`), and the result is the per-rule
    * attrition table a curation pipeline publishes alongside its corpus —
    * every stage listed, zero rows included, so a rule that silently stops
    * firing is visible in the report rather than vanishing from it.
    *
    * Rules, in cascade order (first failure wins):
    *   1 too_short     — fewer than [[CascadeMinTokens]] whitespace tokens
    *   2 too_long      — more than [[CascadeMaxChars]] characters
    *   3 high_punct    — punctuation ratio above [[CascadePunctMax]]
    *   4 low_stopword  — English doc with stopword ratio below
    *                     [[CascadeStopMin]] (non-language text masquerading
    *     as English; the rule is lang-gated because the stopword list is)
    *   5 pass
    *
    * Scale shape: ONE narrow projection computes all metrics (codegen'd
    * built-ins, no UDFs), one `when`-chain assigns the verdict, and the
    * aggregation groups into at most five rows — a map-side-combined hash
    * agg whose shuffle carries five rows per partition regardless of
    * corpus size. The static rule table is five literal rows broadcast by
    * construction. All ratio thresholds compare exact-integer IEEE
    * divisions, so the verdict is bit-identical across engines. */
  private[graft] val CascadeMinTokens = 20
  private[graft] val CascadeMaxChars  = 450
  private[graft] val CascadePunctMax  = 0.10
  private[graft] val CascadeStopMin   = 0.03

  /** The per-document cascade verdict as ONE Column ("pass" or the
    * first failing stage) — the codegen'd scored expression both the
    * batch report aggregate and the streaming spelling share (each
    * through [[cascadeVerdictAgg]]). `toks` must be a PROJECTED
    * tokens(text) column, not an inline call: with two uses behind an
    * alias, CollapseProject keeps the single evaluation (the repo's
    * fusion-trap guidance) instead of re-running the tokenizer in every
    * when-branch. */
  private[graft] def cascadeRule(toks: Column): Column =
    when(size(toks) < CascadeMinTokens, "too_short")
      .when(length(col("text")) > CascadeMaxChars, "too_long")
      .when(punctRatio(col("text")) > CascadePunctMax, "high_punct")
      .when(col("lang") === "en" && stopwordRatio(toks) < CascadeStopMin, "low_stopword")
      .otherwise("pass")

  /** Per-rule cascade aggregates over any documents frame. This is the
    * per-micro-batch unit of the streaming spelling: a document's verdict
    * depends only on the document, and count/sum/min are associative, so
    * batch-sliced aggregates merge into exactly the whole-corpus answer. */
  private[graft] def cascadeVerdictAgg(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.withColumn("toks", tokens($"text"))
      .withColumn("rule", cascadeRule($"toks"))
      .groupBy($"rule")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("n_chars"),
        min($"doc_id").as("first_doc"))
  }

  /** The published attrition table: every stage listed in cascade order,
    * zero rows included, from a per-rule aggregate frame. */
  private[graft] def cascadeReport(perRule: DataFrame): DataFrame = {
    val s = perRule.sparkSession
    import s.implicits._
    val stages = Seq(
      (1, "too_short"), (2, "too_long"), (3, "high_punct"),
      (4, "low_stopword"), (5, "pass")).toDF("stage", "rule")
    stages.join(perRule, Seq("rule"), "left")
      .select($"stage", $"rule",
        coalesce($"n_docs", lit(0L)).as("n_docs"),
        coalesce($"n_chars", lit(0L)).as("n_chars"),
        $"first_doc")
      .orderBy($"stage")
  }

  def filterCascade(s: SparkSession, d: String): DataFrame =
    cascadeReport(cascadeVerdictAgg(Tables.documents(s, d)))
  val filterCascadeSql: String =
    raw"""WITH scored AS (
         |  SELECT doc_id, lang, n_chars, LENGTH(text) AS len, len(toks) AS nt,
         |    ${stopwordRatioSql("toks")} AS sr,
         |    ${punctRatioSql("text")} AS pr
         |  FROM (SELECT *, ${tokensSql("text")} AS toks FROM documents)
         |), verdict AS (
         |  SELECT CASE WHEN nt < $CascadeMinTokens THEN 'too_short'
         |              WHEN len > $CascadeMaxChars THEN 'too_long'
         |              WHEN pr > $CascadePunctMax THEN 'high_punct'
         |              WHEN lang = 'en' AND sr < $CascadeStopMin THEN 'low_stopword'
         |              ELSE 'pass' END AS rule,
         |         doc_id, n_chars
         |  FROM scored
         |), agg AS (
         |  SELECT rule, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_chars) AS BIGINT) AS n_chars, MIN(doc_id) AS first_doc
         |  FROM verdict GROUP BY rule)
         |SELECT s.stage, s.rule, COALESCE(a.n_docs, 0) AS n_docs,
         |  COALESCE(a.n_chars, 0) AS n_chars, a.first_doc
         |FROM (VALUES (1, 'too_short'), (2, 'too_long'), (3, 'high_punct'),
         |             (4, 'low_stopword'), (5, 'pass')) AS s(stage, rule)
         |LEFT JOIN agg a ON s.rule = a.rule
         |ORDER BY s.stage""".stripMargin

  val rows: Seq[QueryDef] = Seq(
    QueryDef("decontaminate", decontaminate _, decontaminateSql),
    // identical semantics by construction (bloom is a pre-filter only;
    // the exact join runs on survivors) => shares the exact oracle
    QueryDef("decontaminate_bloom", decontaminateBloom _, decontaminateSql),
    QueryDef("doc_dup_frac", docDupFrac _, docDupFracSql),
    QueryDef("filter_cascade", filterCascade _, filterCascadeSql),
    QueryDef("text_repetition", textRepetition _, textRepetitionSql),
    QueryDef("text_cooccur", textCooccur _, textCooccurSql),
  )
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.functions.Parity.{md5Key, md5KeySql, microNats, microNatsSql, ngrams, tokens, tokensSql}
import graft.queries.Tables

/** Round-4 curation operators: the two selection/dedup methods from the
  * training-data literature the engine still lacked —
  *
  *  - DSIR-style importance resampling (Xie et al. 2023, "Data Selection
  *    for Language Models via Importance Resampling"): score every raw
  *    document by how target-domain-like its hashed n-gram profile is,
  *    via a bucketed log-likelihood ratio between a target and a raw
  *    unigram/bigram distribution.
  *  - Exact substring dedup (Lee et al. 2022, "Deduplicating Training
  *    Data Makes Language Models Better"): find token spans of length
  *    >= W that occur more than once anywhere in the corpus, and report
  *    the merged duplicated spans per document. The suffix-array of the
  *    paper is a single-machine construction; the distributed
  *    re-expression is overlapping fixed-width window hashes (every
  *    duplicated span of length >= W contains a duplicated W-window, so
  *    W-window recall is exact for the >= W criterion), an equi-join on
  *    8-byte keys, and a per-doc interval merge.
  *
  * Both are engine-exact: every score is an integer sum (micro-nat
  * fixed-point for the log terms, token counts for spans), so the DuckDB
  * oracle replays them bit-identically.
  */
object Curation2 {

  // ------------------------------------------------ DSIR importance resampling
  private val DsirBuckets = 1024L

  /** Importance-resampling verdict per document.
    *
    * Features: unigrams + bigrams, hashed into [[DsirBuckets]] buckets
    * (the paper's hashed n-gram parameterization). The target domain is
    * the `doc_id % 10 == 7` slice (the same held-out-slice convention as
    * [[Curation.decontaminate]]); the raw distribution is everything
    * else. Bucket b gets a Laplace-smoothed log-likelihood ratio
    * `λ_b = round(ln((t_b+1)/(T+B))·1e6) − round(ln((r_b+1)/(R+B))·1e6)`
    * — each ln rounded to micro-nats BEFORE the difference, the proven
    * cross-engine parity scheme ([[TextAnalysis.textPerplexity]]) — and a
    * document's weight is the exact integer sum of λ over its gram
    * occurrences. `selected` = weight > 0 (more target-like than
    * raw-like; the paper samples with Gumbel noise, which is just a
    * randomized threshold on the same weight).
    *
    * Scale shape: grams explode map-side; the two distributions are ONE
    * hash-agg each over B=1024 buckets; λ is a B-row table that
    * broadcasts; the only corpus-sized shuffle is the final per-doc sum,
    * partitioned by doc_id. Nothing all-pairs, nothing collected. At
    * 100 TB the λ table is still 1024 rows — the method's whole point is
    * that the target profile compresses to a constant-size object. */
  def dsirResample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", tokens($"text").as("t"))
    // persisted: consumed by BOTH the bucket statistics and the weights
    // join — without the pin the explode + per-gram md5 (the dominant
    // cost) runs twice (the unpersist-trap class; surfaced by the
    // round-15 noop-sink measurement, 4.1 s -> ~2 s)
    val grams = docs.select($"doc_id",
        explode(concat(ngrams($"t", 1), ngrams($"t", 2))).as("g"))
      .select($"doc_id", pmod(md5Key($"g", 15), lit(DsirBuckets)).as("b"),
        ($"doc_id" % 10 === 7).as("is_target"))
      .persist()
    val perBucket = grams.groupBy($"b")
      .agg(sum(when($"is_target", 1L).otherwise(0L)).as("t_cnt"),
        sum(when(!$"is_target", 1L).otherwise(0L)).as("r_cnt"))
    // grand totals ride a cross-joinable 1-row frame (no collect)
    val totals = perBucket.agg(sum($"t_cnt").as("t_tot"), sum($"r_cnt").as("r_tot"))
    val lambda = perBucket.crossJoin(broadcast(totals))
      .select($"b",
        (microNats(($"t_cnt" + 1).cast("double") / ($"t_tot" + DsirBuckets))
          - microNats(($"r_cnt" + 1).cast("double") / ($"r_tot" + DsirBuckets)))
          .as("lambda_micro"))
    val weights = grams.join(broadcast(lambda), "b")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"), sum($"lambda_micro").as("logw_micro"))
    docs.select($"doc_id").join(weights, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_grams", lit(0L)).as("n_grams"),
        coalesce($"logw_micro", lit(0L)).as("logw_micro"),
        (coalesce($"logw_micro", lit(0L)) > 0L).as("selected"))
      .orderBy($"doc_id")
  }
  val dsirResampleSql: String =
    raw"""WITH toks AS (
         |  SELECT doc_id, ${tokensSql("text")} AS t FROM documents
         |), grams AS (
         |  SELECT doc_id,
         |    ${md5KeySql("g", 15)} % ${DsirBuckets} AS b,
         |    doc_id % 10 = 7 AS is_target
         |  FROM (
         |    SELECT doc_id, unnest(t) AS g FROM toks
         |    UNION ALL
         |    SELECT doc_id,
         |      unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
         |    FROM toks WHERE len(t) >= 2)
         |), per_bucket AS (
         |  SELECT b,
         |    CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS t_cnt,
         |    CAST(SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT) AS r_cnt
         |  FROM grams GROUP BY b
         |), totals AS (
         |  SELECT CAST(SUM(t_cnt) AS BIGINT) AS t_tot, CAST(SUM(r_cnt) AS BIGINT) AS r_tot
         |  FROM per_bucket
         |), lambda AS (
         |  SELECT b,
         |    ${microNatsSql(s"CAST(t_cnt + 1 AS DOUBLE) / (t_tot + $DsirBuckets)")}
         |      - ${microNatsSql(s"CAST(r_cnt + 1 AS DOUBLE) / (r_tot + $DsirBuckets)")}
         |      AS lambda_micro
         |  FROM per_bucket CROSS JOIN totals
         |), weights AS (
         |  SELECT g.doc_id, COUNT(*) AS n_grams,
         |    CAST(SUM(l.lambda_micro) AS BIGINT) AS logw_micro
         |  FROM grams g JOIN lambda l ON g.b = l.b
         |  GROUP BY g.doc_id)
         |SELECT d.doc_id,
         |  COALESCE(w.n_grams, 0) AS n_grams,
         |  COALESCE(w.logw_micro, 0) AS logw_micro,
         |  COALESCE(w.logw_micro, 0) > 0 AS selected
         |FROM documents d LEFT JOIN weights w ON d.doc_id = w.doc_id
         |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------- exact substring dedup
  private val SubW = 8 // duplicated-span threshold in tokens (paper: 50; docs here are short)

  /** Duplicated-substring report per document: merged spans of tokens
    * covered by some [[SubW]]-token window whose exact text occurs more
    * than once in the corpus (any position, same doc or not — the
    * suffix-array criterion), as
    * `(doc_id, n_dup_spans, dup_tokens, n_tokens)`.
    *
    * Mechanics: every doc explodes into its overlapping W-windows with
    * their 1-based start position; a window is duplicated iff its 60-bit
    * text key occurs >= 2 times globally. Duplicated starts merge into
    * maximal spans per doc via gaps-and-islands (a new island starts
    * when the gap to the previous start exceeds W, i.e. the windows no
    * longer overlap or touch); a span of starts [s_min, s_max] covers
    * exactly s_max − s_min + W tokens.
    *
    * Scale shape: the hot-key table (keys with count >= 2) comes from one
    * hash-agg on 8-byte keys and is corpus-duplication-sized, not
    * corpus-sized; positions rejoin it on the key (shuffle carries
    * (key, doc, pos) — 24 bytes/window); the island merge is a per-doc
    * window function after a shuffle on doc_id. The suffix array the
    * paper builds is replaced by three shuffles on fixed-width keys. */
  def dedupSubstrings(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", tokens($"text").as("t"))
    // persisted: consumed by both the occurrence aggregate and the join
    // back — without the pin the window explode + per-gram md5 runs
    // twice (surfaced by the round-15 noop-sink measurement)
    val wins = docs
      .select($"doc_id", size($"t").as("n_tokens"), posexplode(ngrams($"t", SubW)))
      .select($"doc_id", $"n_tokens", ($"pos" + 1).as("p"), md5Key($"col", 15).as("k"))
      .persist()
    val hot = wins.groupBy($"k").agg(count(lit(1)).as("occ")).filter($"occ" >= 2)
    val dupStarts = wins.join(hot, "k").select($"doc_id", $"p")
    val w = Window.partitionBy($"doc_id").orderBy($"p")
    val islands = dupStarts
      .withColumn("newi",
        when(coalesce($"p" - lag($"p", 1).over(w), lit(Long.MaxValue)) > SubW, 1L).otherwise(0L))
      .withColumn("island", sum($"newi").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"doc_id", $"island")
      .agg((max($"p") - min($"p") + SubW).as("span_tokens"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_dup_spans"), sum($"span_tokens").as("dup_tokens"))
    docs.select($"doc_id", size($"t").cast("long").as("n_tokens"))
      .join(islands, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_dup_spans", lit(0L)).as("n_dup_spans"),
        coalesce($"dup_tokens", lit(0L)).as("dup_tokens"),
        $"n_tokens")
      .orderBy($"doc_id")
  }
  val dedupSubstringsSql: String =
    raw"""WITH toks AS (
         |  SELECT doc_id, ${tokensSql("text")} AS t FROM documents
         |), wins AS (
         |  SELECT doc_id, n_tokens, p,
         |    ${md5KeySql(s"array_to_string(t[p:p+${SubW - 1}], ' ')", 15)} AS k
         |  FROM (SELECT doc_id, t, len(t) AS n_tokens,
         |          unnest(range(1, len(t) - ${SubW - 2})) AS p
         |        FROM toks WHERE len(t) >= $SubW)
         |), hot AS (
         |  SELECT k FROM wins GROUP BY k HAVING COUNT(*) >= 2
         |), dup_starts AS (
         |  SELECT w.doc_id, w.p FROM wins w JOIN hot h ON w.k = h.k
         |), marked AS (
         |  SELECT doc_id, p,
         |    CASE WHEN p - LAG(p) OVER (PARTITION BY doc_id ORDER BY p) > $SubW
         |         OR LAG(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
         |         THEN 1 ELSE 0 END AS newi
         |  FROM dup_starts
         |), islands AS (
         |  SELECT doc_id, p, newi,
         |    SUM(newi) OVER (PARTITION BY doc_id ORDER BY p
         |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM marked
         |), spans AS (
         |  SELECT doc_id, island, MAX(p) - MIN(p) + $SubW AS span_tokens
         |  FROM islands GROUP BY doc_id, island
         |), per_doc AS (
         |  SELECT doc_id, COUNT(*) AS n_dup_spans,
         |    CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens
         |  FROM spans GROUP BY doc_id)
         |SELECT t.doc_id,
         |  COALESCE(s.n_dup_spans, 0) AS n_dup_spans,
         |  COALESCE(s.dup_tokens, 0) AS dup_tokens,
         |  CAST(len(t.t) AS BIGINT) AS n_tokens
         |FROM toks t LEFT JOIN per_doc s ON t.doc_id = s.doc_id
         |ORDER BY t.doc_id""".stripMargin

  val rows: Seq[QueryDef] = Seq(
    QueryDef("dsir_resample", dsirResample _, dsirResampleSql),
    QueryDef("dedup_substrings", dedupSubstrings _, dedupSubstringsSql),
  )
}

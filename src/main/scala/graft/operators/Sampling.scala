package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.functions.Parity.{md5Key, md5KeySql}
import graft.queries.Tables

/** Sampling & dataset-splitting operators — the selection half of a
  * training-data pipeline: draw an eval/debug sample you can RE-DRAW
  * identically next week (consistent hashing, not rand()), stratify it,
  * weight it, and cut train/val/test splits that near-duplicate clusters
  * cannot straddle.
  *
  * All four are deterministic BY CONSTRUCTION (hash-derived keys, never
  * an RNG), which is what makes them both oracle-checkable and
  * reproducible across reruns/backfills — the property a curation
  * pipeline actually needs from its sampler. Hash keys are
  * [[graft.functions.Parity]] md5-prefix keys, so DuckDB replays them
  * bit-for-bit.
  */
object Sampling {

  /** Sample sizes: K-bounded outputs whatever the corpus size. */
  private[graft] val ConsistentK = 200
  private[graft] val StratumK = 40
  private[graft] val WeightedK = 150


  // ------------------------------------------------ consistent sample
  /** Consistent uniform sample (sample_consistent): the K documents with
    * the smallest hash key — a uniform draw that is STABLE under corpus
    * growth (a doc leaves the sample only when a smaller-keyed doc
    * arrives; ~K survive any refresh), the property rand()-sampling
    * lacks and backfills need.
    *
    * Why this shape scales: orderBy(limit K) plans as
    * TakeOrderedAndProject — each partition keeps its local top-K heap
    * and K rows per partition merge at the driver; no global sort, no
    * full shuffle, output bounded by K at ANY corpus size. This is the
    * canonical K-bounded reduction every "give me a sample" job should
    * compile to. */
  def sampleConsistent(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", $"lang", $"source", $"n_chars", md5Key($"doc_id", 8).as("hk"))
      .orderBy($"hk", $"doc_id").limit(ConsistentK)
      .orderBy($"doc_id")
  }
  val sampleConsistentSql: String =
    s"""SELECT * FROM (
       |  SELECT doc_id, lang, source, n_chars, ${md5KeySql("doc_id", 8)} AS hk
       |  FROM documents ORDER BY hk, doc_id LIMIT $ConsistentK)
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ stratified sample
  /** Stratified sample (sample_stratified): the smallest-keyed K docs PER
    * LANGUAGE — equal representation for strata the uniform draw would
    * size proportionally (the eval-set recipe for minority languages).
    *
    * Why this shape scales: ONE shuffle on the stratum key, then a
    * per-stratum row_number over (hk, doc_id) cut at K — each window
    * partition is one stratum, output bounded by K x |strata|. No
    * per-stratum jobs, no driver loop over languages. This is the
    * few-large-strata spelling (a handful of languages; each window
    * partition is a full stratum and that is fine when strata are few);
    * when a single stratum is hot enough to dominate its window task,
    * use the salted two-phase kernel of
    * [[PipelineOps.stratifiedSample]] (`stratified_sample`, over
    * events), which pre-cuts K per (stratum, salt) before the
    * per-stratum final cut. */
  def sampleStratified(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"lang").orderBy($"hk", $"doc_id")
    Tables.documents(s, d)
      .select($"doc_id", $"lang", $"n_chars", md5Key($"doc_id", 8).as("hk"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= StratumK)
      .select($"doc_id", $"lang", $"n_chars", $"hk", $"rk".cast("long").as("rk"))
      .orderBy($"lang", $"rk")
  }
  val sampleStratifiedSql: String =
    s"""SELECT doc_id, lang, n_chars, hk, CAST(rk AS BIGINT) AS rk FROM (
       |  SELECT doc_id, lang, n_chars, ${md5KeySql("doc_id", 8)} AS hk,
       |    ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY ${md5KeySql("doc_id", 8)}, doc_id) AS rk
       |  FROM documents)
       |WHERE rk <= $StratumK ORDER BY lang, rk""".stripMargin

  // -------------------------------------------------- weighted sample
  /** Weighted sample without replacement (sample_weighted): the
    * Efraimidis-Spirakis A-ES scheme with hash-derived uniforms — item i
    * gets key -ln(u_i)/w_i and the K SMALLEST keys win, giving inclusion
    * probability proportional to weight (here n_chars: longer documents
    * are likelier picks, the token-budget-aware sampling curation uses).
    *
    * Determinism/parity: u = (hk+1)/2^32 from the shared md5 spelling;
    * ln is rounded to integer NANO-nats before ONE non-negative integer
    * division by the weight (the textPerplexity micro-quantization
    * discipline — both engines floor the same integer, so the ranking is
    * engine-exact). Why this shape scales: the same TakeOrderedAndProject
    * K-heap as the uniform sample — weighted sampling with NO global
    * sort and no per-item RNG state, and keys are reproducible, so a
    * re-run selects the identical sample. */
  def sampleWeighted(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", $"n_chars", md5Key($"doc_id", 8).as("hk"))
      .withColumn("key_w",
        expr("round(ln(4294967296.0 / CAST(hk + 1 AS DOUBLE)) * 1000000000.0)")
          .cast("long").divide($"n_chars").cast("long"))
      .orderBy($"key_w", $"doc_id").limit(WeightedK)
      .orderBy($"doc_id")
  }
  val sampleWeightedSql: String =
    s"""SELECT * FROM (
       |  SELECT doc_id, n_chars, hk,
       |    CAST(round(ln(4294967296.0 / CAST(hk + 1 AS DOUBLE)) * 1000000000.0)
       |      AS BIGINT) // n_chars AS key_w
       |  FROM (SELECT doc_id, n_chars, ${md5KeySql("doc_id", 8)} AS hk FROM documents)
       |  ORDER BY key_w, doc_id LIMIT $WeightedK)
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------- leakage-safe splits
  /** Leakage-safe train/val/test split (split_leakage_safe): split
    * assignment is computed on the near-dup CLUSTER representative, not
    * the document — so two near-duplicate documents can never land in
    * different splits (the eval-contamination failure mode exact-id
    * splitting silently permits; decontamination catches eval leaks
    * AFTER the fact, this prevents them at assignment time). Buckets
    * 0-7/8/9 of the rep's hash give the standard 80/10/10 cut. Output is
    * the per-split audit report: docs, distinct groups, total chars.
    *
    * Why this shape scales: components come from the LSH candidate path
    * ([[Dedup.dedupClustersLsh]] — measured shuffle slope 1.0 in the
    * round-14 scale table, vs ~1.45 for the exact shingle equi-join
    * whose Σdf² term this operator would otherwise inherit; identical
    * components on the fixtures, so the oracle stays the exact recursive
    * CTE). The component map covers CLUSTERED docs only (a small
    * fraction of the corpus by the dedup premise) and joins back on
    * doc_id — a co-partitioned equi-join — with unclustered docs falling
    * through to their own id via coalesce; the report is a
    * map-side-combined 3-row aggregate. No stage touches text after the
    * CC kernel. */
  def splitLeakageSafe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val comp = Dedup.clusterMapLsh(s, d).select($"doc_id", $"cluster_id")
    Tables.documents(s, d).select($"doc_id", $"n_chars")
      .join(comp, Seq("doc_id"), "left")
      .withColumn("rep", coalesce($"cluster_id", $"doc_id"))
      .withColumn("bucket", md5Key($"rep", 8) % 10)
      .withColumn("split_name",
        when($"bucket" < 8, "train").when($"bucket" === 8, "val").otherwise("test"))
      .groupBy($"split_name")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"rep").as("n_groups"),
        sum($"n_chars").as("sum_chars"))
      .orderBy($"split_name")
  }
  val splitLeakageSafeSql: String =
    s"""WITH RECURSIVE ${Dedup.CcCteSql},
       |assigned AS (
       |  SELECT d.doc_id, d.n_chars,
       |    COALESCE(lab.cluster_id, d.doc_id) AS rep
       |  FROM documents d LEFT JOIN lab ON d.doc_id = lab.doc_id
       |), bucketed AS (
       |  SELECT *, ${md5KeySql("rep", 8)} % 10 AS bucket FROM assigned)
       |SELECT CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val'
       |         ELSE 'test' END AS split_name,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_groups,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
       |FROM bucketed GROUP BY 1 ORDER BY split_name""".stripMargin

  val rows: Seq[QueryDef] = Seq(
    QueryDef("sample_consistent", sampleConsistent _, sampleConsistentSql),
    QueryDef("sample_stratified", sampleStratified _, sampleStratifiedSql),
    QueryDef("sample_weighted", sampleWeighted _, sampleWeightedSql),
    QueryDef("split_leakage_safe", splitLeakageSafe _, splitLeakageSafeSql),
  )
}

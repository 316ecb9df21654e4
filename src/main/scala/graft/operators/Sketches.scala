package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.functions.Parity.{md5Key, md5KeySql, tokens, tokensSql}
import graft.queries.Tables

/** K-minimum-values (KMV) sketches over per-source shingle sets:
  * distinct-count estimation and pairwise overlap — the mergeable
  * alternative to exact distinct aggregation when the corpus no longer
  * fits a COUNT(DISTINCT) shuffle budget.
  *
  * Unlike the HLL rows (q42: engine-specific registers, permanently
  * `no_oracle`), KMV is hash-gate-exact across engines: the sketch IS
  * the K smallest 32-bit md5-prefix hashes of the shingle strings, and
  * both Spark and DuckDB compute identical md5 bytes — so the DuckDB
  * oracle replays the whole sketch bit-for-bit (the keys are
  * [[graft.functions.Parity]] md5-prefix keys). All
  * estimator arithmetic is 64-bit integer (floor division, ppm units):
  * no float drift anywhere.
  *
  * Scale notes: the per-source K-smallest pass is a window over the
  * DISTINCT (source, hash) dictionary — the same cost class as the
  * first-owner aggregates ([[Curation3.ngramNovelty]]); at 100 TB the
  * production form is a partial-aggregating KMV (merge = K smallest of
  * the union, associative/commutative — exactly what the pair-overlap
  * query demonstrates on the merged sketches). Everything downstream of
  * the dictionary operates on ≤ K × #sources rows, bounded by
  * construction.
  */
object Sketches {
  /** Sketch size: estimator std error ≈ 1/√(K−2) ≈ 12.7%. */
  private[graft] val K = 64

  /** Distinct (source, h) dictionary; h = first 8 md5 hex chars of the
    * shingle string, an integer in [0, 2^32). Engine-identical. */
  private def sourceHashes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    // same plan-keyed cache discipline as Curation3.shingleEx: the
    // shingle-set frame is shared with every other shingle operator
    val sets = Dedup.docShinglesOf(docs).persist()
    sets.count()
    sets.select($"doc_id", explode($"sh").as("sg"))
      .join(docs.select($"doc_id", $"source"), "doc_id")
      .select($"source", md5Key($"sg", 8).as("h"))
      .distinct()
  }

  /** The ≤K smallest distinct hashes per source. */
  private def kmvSketch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"source").orderBy($"h")
    sourceHashes(s, d).withColumn("rk", row_number().over(w)).filter($"rk" <= K)
  }

  // --------------------------------------------- per-source distinct
  /** Per-source distinct-shingle estimate from the K-th smallest hash:
    * est = (K−1)·2³² / h₍K₎ (floor), exact count carried alongside so
    * the row itself reports its error in ppm. Sources with fewer than K
    * distinct hashes are exact by definition. */
  def sourceKmvDistinct(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"source").orderBy($"h")
    sourceHashes(s, d).withColumn("rk", row_number().over(w))
      .groupBy($"source")
      .agg(count(lit(1)).as("exact_distinct"),
        max(when($"rk" === K, $"h")).as("kth"))
      .withColumn("est_distinct",
        when($"exact_distinct" >= K, expr(s"(${K - 1} * 4294967296) div kth"))
          .otherwise($"exact_distinct"))
      .withColumn("err_ppm",
        expr("(abs(est_distinct - exact_distinct) * 1000000) div exact_distinct"))
      .select($"source", $"exact_distinct", $"est_distinct", $"err_ppm")
      .orderBy($"source")
  }
  val sourceKmvDistinctSql: String =
    s"""WITH ${Dedup.ShingleCteSql},
       |sh32 AS (
       |  SELECT DISTINCT d.source, ${md5KeySql("e.s", 8)} AS h
       |  FROM ex e JOIN documents d ON e.doc_id = d.doc_id),
       |rk AS (
       |  SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk FROM sh32),
       |st AS (
       |  SELECT source, COUNT(*) AS exact_distinct,
       |    MAX(CASE WHEN rk = $K THEN h END) AS kth
       |  FROM rk GROUP BY source),
       |est AS (
       |  SELECT source, CAST(exact_distinct AS BIGINT) AS exact_distinct,
       |    CAST(CASE WHEN exact_distinct >= $K THEN (${K - 1} * 4294967296) // kth
       |         ELSE exact_distinct END AS BIGINT) AS est_distinct
       |  FROM st)
       |SELECT source, exact_distinct, est_distinct,
       |  (ABS(est_distinct - exact_distinct) * 1000000) // exact_distinct AS err_ppm
       |FROM est ORDER BY source""".stripMargin

  // ------------------------------------------------ pairwise overlap
  /** Pairwise source overlap from MERGED sketches: for each source pair,
    * merge the two KMV sets (K smallest of the union — the associative
    * sketch merge), count how many of the merged values appear in BOTH
    * input sketches, and report jaccard in exact ppm. This is the
    * O(#sources² · K) replacement for the O(dictionary) exact pairwise
    * overlap — the pair stage never touches the corpus.
    *
    * Plan shape: two equi-joins attach each pair's sketches (no
    * non-equi predicate, so no nested-loop join), then one aggregate
    * per (pair, hash) and one windowed merge over ≤ 2K rows per pair. */
  def sourceOverlapKmv(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val kmv = kmvSketch(s, d).select($"source", $"h").persist()
    val srcs = kmv.select($"source").distinct()
    // source-dimension self pair-up: both sides are the distinct-source
    // dimension (corpus-size-independent), so the non-equi `<` join is a
    // broadcast nested loop over a constant-ish frame, never a
    // corpus-sized cartesian (PlanLawSpec whitelists it with this bound)
    val pairs = srcs.select($"source".as("sa"))
      .join(broadcast(srcs.select($"source".as("sb"))), $"sa" < $"sb")
    val withA = pairs.join(kmv.select($"source".as("sa"), $"h"), "sa")
      .select($"sa", $"sb", $"h", lit(1L).as("ina"), lit(0L).as("inb"))
    val withB = pairs.join(kmv.select($"source".as("sb"), $"h"), "sb")
      .select($"sa", $"sb", $"h", lit(0L).as("ina"), lit(1L).as("inb"))
    val un = withA.union(withB)
      .groupBy($"sa", $"sb", $"h")
      .agg(max($"ina").as("ina"), max($"inb").as("inb"))
    val w = Window.partitionBy($"sa", $"sb").orderBy($"h")
    un.withColumn("rk", row_number().over(w)).filter($"rk" <= K)
      .groupBy($"sa", $"sb")
      .agg(sum($"ina" * $"inb").as("matches"),
        expr("(sum(ina * inb) * 1000000) div count(1)").as("jaccard_ppm"))
      .select($"sa".as("source_a"), $"sb".as("source_b"), $"matches", $"jaccard_ppm")
      .orderBy($"source_a", $"source_b")
  }
  val sourceOverlapKmvSql: String =
    s"""WITH ${Dedup.ShingleCteSql},
       |sh32 AS (
       |  SELECT DISTINCT d.source, ${md5KeySql("e.s", 8)} AS h
       |  FROM ex e JOIN documents d ON e.doc_id = d.doc_id),
       |kmv AS (
       |  SELECT source, h FROM (
       |    SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk FROM sh32)
       |  WHERE rk <= $K),
       |srcs AS (SELECT DISTINCT source FROM kmv),
       |pairs AS (SELECT a.source AS sa, b.source AS sb FROM srcs a, srcs b WHERE a.source < b.source),
       |un AS (
       |  SELECT p.sa, p.sb, k.h,
       |    MAX(CASE WHEN k.source = p.sa THEN 1 ELSE 0 END) AS ina,
       |    MAX(CASE WHEN k.source = p.sb THEN 1 ELSE 0 END) AS inb
       |  FROM pairs p JOIN kmv k ON k.source IN (p.sa, p.sb)
       |  GROUP BY p.sa, p.sb, k.h),
       |rk2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h) AS rk FROM un)
       |SELECT sa AS source_a, sb AS source_b,
       |  CAST(SUM(ina * inb) AS BIGINT) AS matches,
       |  (CAST(SUM(ina * inb) AS BIGINT) * 1000000) // COUNT(*) AS jaccard_ppm
       |FROM rk2 WHERE rk <= $K
       |GROUP BY sa, sb ORDER BY sa, sb""".stripMargin

  // ------------------------------------------------- heavy hitters
  /** Heavy-hitter threshold: a term is heavy iff freq · HhK > N (strict),
    * i.e. frequency above 1/200 of the token stream. The per-partition
    * Misra-Gries capacity is HhK − 1, which makes the candidate union a
    * guaranteed superset of every heavy term (see below). */
  private[graft] val HhK = 200

  /** One partition's Misra-Gries pass: a summary of ≤ cap (term, count)
    * entries plus the partition's total token count. The classic bounded-
    * memory stream kernel: increment a tracked term, insert while there
    * is room, otherwise decrement ALL tracked counters by one (dropping
    * zeros) and discard the arrival. Invariant: any term with
    * freq > n/(cap+1) in the stream survives in the summary. */
  private[graft] def misraGries(it: Iterator[String], cap: Int): (Long, Map[String, Long]) = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    var n = 0L
    it.foreach { t =>
      n += 1
      m.get(t) match {
        case Some(c) => m(t) = c + 1
        case None if m.size < cap => m(t) = 1L
        case None =>
          m.mapValuesInPlace((_, c) => c - 1)
          m.filterInPlace((_, c) => c > 0)
      }
    }
    (n, m.toMap)
  }

  /** Exact heavy hitters in two passes with bounded memory — the shape
    * that replaces the full-shuffle `GROUP BY term` when the term
    * dictionary itself no longer fits a shuffle budget (100 TB of tokens
    * is billions of distinct terms; the heavy ones are a handful).
    *
    * Pass 1 runs [[misraGries]] per partition (capacity HhK−1, constant
    * memory) and collects only the summaries — ≤ #partitions · HhK rows,
    * the K-bounded driver-coordination class. The union of per-partition
    * candidates provably contains every global heavy term: if
    * freq(x)·HhK > N then Σᵢ(freqᵢ(x) − nᵢ/HhK) > 0, so some partition
    * has freqᵢ(x) > nᵢ/HhK and its MG summary kept x. Pass 2 semi-joins
    * the token stream against the broadcast candidate set (no full
    * shuffle — only candidate terms reach the exchange) and exact-counts
    * them; the final strict-threshold filter uses exact counts, so extra
    * candidates from pass 1 drop out and the OUTPUT is deterministic and
    * partitioning-independent even though the candidate set is not (the
    * DeterminismSpec sweep exercises exactly this). */
  def heavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def toks = Tables.documents(s, d)
      .select(explode(tokens(lower($"text"))).as("t"))
    val summaries = toks.as[String]
      .mapPartitions(it => Iterator.single(misraGries(it, HhK - 1)))
      .collect()
    val total = summaries.map(_._1).sum
    val candidates = summaries.iterator.flatMap(_._2.keysIterator).toSeq.distinct
    toks.join(broadcast(candidates.toDF("t")), "t")
      .groupBy($"t")
      .agg(count(lit(1)).as("n"))
      .filter($"n" * HhK > total)
      .select($"t".as("term"), $"n",
        expr(s"n * 1000000 div $total").as("freq_ppm")) // integer div: engine-parity
      .orderBy($"n".desc, $"term")
  }
  /** DuckDB replica — the full GROUP BY the two-pass plan avoids. */
  val heavyHittersSql: String =
    raw"""WITH t AS (
         |  SELECT unnest(${tokensSql("lower(text)")}) AS t
         |  FROM documents
         |), tot AS (SELECT COUNT(*) AS total FROM t)
         |SELECT t AS term, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST((COUNT(*) * 1000000) // (SELECT total FROM tot) AS BIGINT) AS freq_ppm
         |FROM t GROUP BY t
         |HAVING COUNT(*) * $HhK > (SELECT total FROM tot)
         |ORDER BY n DESC, term""".stripMargin

  // --------------------------------------------- count-min sketch
  /** CMS geometry: depth (independent hash rows) × width (buckets). */
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 1024L

  /** Count-min-sketch frequency estimates audited against exact counts
    * (`cms_freq_estimate`): the sketch is CmsDepth × CmsWidth counters —
    * a 4096-row table whatever the corpus size, built by ONE aggregation
    * over the token stream (explode ×depth is a narrow map; the shuffle
    * carries ≤ depth·width rows after map-side combine). Estimates for a
    * fixed probe set (the 30 smallest distinct tokens — TakeOrdered,
    * bounded by construction) take the MIN over depth rows; the output
    * carries the exact count alongside, so the row itself exhibits the
    * CMS guarantee est ≥ exact (`overcount` ≥ 0, law pinned in
    * `SketchesSpec`-style spec below).
    *
    * Like the KMV rows (and unlike HLL's q42), the sketch is
    * hash-gate-EXACT across engines: bucket = md5-prefix of
    * "seed:token" mod width — both engines compute identical md5 bytes,
    * so DuckDB replays the whole counter table bit-for-bit. This is the
    * mergeable frequency summary (counters add across shards) that
    * answers point frequency queries when the term dictionary itself is
    * too large to shuffle — the read-side complement of the
    * [[heavyHitters]] two-pass writer. */
  def cmsFreqEstimate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def toks = Tables.documents(s, d)
      .select(explode(tokens(lower($"text"))).as("t"))
    def bucket(seed: Column, t: Column): Column =
      md5Key(concat(seed.cast("string"), lit(":"), t), 8) % CmsWidth
    val sketch = toks
      .select($"t", explode(sequence(lit(0), lit(CmsDepth - 1))).as("seed"))
      .select($"seed", bucket($"seed", $"t").as("bucket"))
      .groupBy($"seed", $"bucket").agg(count(lit(1)).as("c"))
    val probes = toks.distinct().orderBy($"t").limit(30)
    val exact = toks.join(broadcast(probes), "t")
      .groupBy($"t").agg(count(lit(1)).as("exact_n"))
    val est = probes
      .select($"t", explode(sequence(lit(0), lit(CmsDepth - 1))).as("seed"))
      .select($"t", $"seed", bucket($"seed", $"t").as("bucket"))
      .join(sketch, Seq("seed", "bucket"))
      .groupBy($"t").agg(min($"c").as("cms_est"))
    exact.join(est, "t")
      .select($"t".as("term"), $"exact_n", $"cms_est",
        ($"cms_est" - $"exact_n").as("overcount"))
      .orderBy($"term")
  }
  /** DuckDB replica — the identical md5 counter table, replayed. */
  val cmsFreqEstimateSql: String =
    raw"""WITH toks AS (
         |  SELECT unnest(${tokensSql("lower(text)")}) AS t
         |  FROM documents
         |), seeds AS (SELECT unnest(range($CmsDepth)) AS seed),
         |sketch AS (
         |  SELECT seed,
         |    ${md5KeySql("seed || ':' || t", 8)} % $CmsWidth AS bucket,
         |    COUNT(*) AS c
         |  FROM toks, seeds GROUP BY 1, 2
         |), probes AS (SELECT DISTINCT t FROM toks ORDER BY t LIMIT 30),
         |exact AS (
         |  SELECT t, CAST(COUNT(*) AS BIGINT) AS exact_n FROM toks
         |  WHERE t IN (SELECT t FROM probes) GROUP BY t
         |), est AS (
         |  SELECT p.t, CAST(MIN(s.c) AS BIGINT) AS cms_est
         |  FROM probes p CROSS JOIN seeds sd
         |  JOIN sketch s ON s.seed = sd.seed
         |   AND s.bucket = ${md5KeySql("sd.seed || ':' || p.t", 8)} % $CmsWidth
         |  GROUP BY p.t)
         |SELECT e.t AS term, e.exact_n, s.cms_est,
         |  s.cms_est - e.exact_n AS overcount
         |FROM exact e JOIN est s ON e.t = s.t
         |ORDER BY term""".stripMargin

  val rows: Seq[QueryDef] = Seq(
    QueryDef("cms_freq_estimate", cmsFreqEstimate _, cmsFreqEstimateSql),
    QueryDef("heavy_hitters", heavyHitters _, heavyHittersSql),
    QueryDef("source_kmv_distinct", sourceKmvDistinct _, sourceKmvDistinctSql),
    QueryDef("source_overlap_kmv", sourceOverlapKmv _, sourceOverlapKmvSql),
  )
}

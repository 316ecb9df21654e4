package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef

/** Graph-importance propagation over the near-dup similarity graph —
  * the curation family BETWEEN connected components and survivor
  * selection. CC answers "which documents are interchangeable copies";
  * PageRank over the same edges answers "which copy is the most
  * CENTRAL version of its neighborhood" — the standard graph-importance
  * signal web-scale corpora use to pick canonical pages (and to weight
  * quality propagation), computed here as a first-class Spark plan.
  *
  * Engine parity by construction: the whole recurrence is 64-bit
  * integer arithmetic in micro-units (`r0 = 1e6`; each step is
  * `(1-d) + d * Σ r(u) DIV deg(u)` with integer division and integer
  * percent damping), so the DuckDB oracle matches bit-for-bit with ZERO
  * IEEE exposure — no rounding discipline needed, unlike the micro-nat
  * ln family ([[TextAnalysis.textPerplexity]]).
  *
  * Scale shape (100 TB): edges come from a near-dup pair kernel (see
  * the edge-source note below for the measured exact-vs-LSH cost
  * split), are SYMMETRIZED once,
  * src-hash-partitioned, and persisted; each of the fixed
  * [[Graph.PrIters]] iterations is one equi-join of the persisted edge
  * table against the O(nodes) rank frame plus one partial-aggregated
  * groupBy — the edge side's cached partitioning satisfies the join's
  * distribution, so per-iteration exchange is the O(nodes) rank frame
  * plus the map-side-combined contribution aggregate, never a
  * re-shuffle of O(E) edges; no iteration-count blowup (iterations
  * are a constant, the plan grows linearly and never re-reads the
  * corpus). The output is K-bounded (TakeOrderedAndProject), never a
  * corpus-sized sort.
  */
object Graph {
  private[graft] val PrIters = 4
  private[graft] val PrTopK = 50
  /** Damping 0.85 as integer percent; (1-d) as rank micro-units. */
  private[graft] val DampPct = 85L
  private[graft] val BaseMicro = 150000L

  /** Fixed-iteration integer PageRank over undirected `pairs(a_id, b_id)`
    * — full `(doc_id, deg, r_micro)` rank frame, materialized (it is
    * O(clustered nodes) by construction, the same bound as the standing
    * cluster map). Nodes are the vertices incident to at least one pair
    * (isolated documents carry no graph signal — their rank is the
    * closed-form `BaseMicro + DampPct*1e6/100` fixed point and is
    * excluded, exactly as [[Dedup.ccFixpoint]] labels clustered docs
    * only).
    *
    * Overflow headroom: total rank mass is conserved at ~nodes × 1e6
    * micro-units (each node's rank splits exactly across its edges in
    * the symmetric graph), so any single `85 * in_micro` product stays
    * under Long.MaxValue until the CLUSTERED-node count approaches
    * ~1e11 — two orders beyond a 100 TB corpus's duplicate mass. */
  private[graft] def pagerankOn(pairs: DataFrame, iters: Int): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    // LAZY checkpoint before the symmetrizing union (r21, the
    // ccFixpoint discipline): without it each union branch executes the
    // full pair kernel — two kernel runs per call — and the kernel's
    // plan is re-analyzed by every downstream action. Dedup.ccCheckpoint
    // gates the reliable (executor-loss-tolerant) mode.
    val p = Dedup.ccCheckpoint(pairs)
    val edges = p
      .unionByName(p.select($"b_id".as("a_id"), $"a_id".as("b_id")))
      .select($"a_id".as("src"), $"b_id".as("dst"))
      // hash-partition by src ONCE before the persist: every iteration's
      // contribution join keys on src, so the cached partitioning
      // satisfies the join's distribution and the O(E) edge side is
      // never re-exchanged — only the O(nodes) rank frame moves per
      // iteration (plus the groupBy-dst exchange, which is inherent).
      // The degree aggregate below reuses the same partitioning too.
      .repartition($"src")
      .persist()
    // symmetric graph: out-degree == in-degree, one aggregate serves both
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg")).persist()
    var ranks = deg.select($"src".as("doc_id"), $"deg")
      .withColumn("r_micro", lit(1000000L))
    for (_ <- 1 to iters) {
      // r(u) DIV deg(u): integer division is exact and order-free, so
      // the BIGINT contribution sum is associative — bit-equal on any
      // engine and any partitioning
      val contrib = edges.join(ranks, edges("src") === ranks("doc_id"))
        .select(edges("dst").as("doc_id"), expr("r_micro DIV deg").as("c_micro"))
      val summed = contrib.groupBy($"doc_id").agg(sum($"c_micro").as("in_micro"))
      ranks = deg.select($"src".as("doc_id"), $"deg")
        .join(summed, Seq("doc_id"), "left")
        .select($"doc_id", $"deg",
          expr(s"CAST($BaseMicro AS BIGINT) + " +
            s"($DampPct * coalesce(in_micro, CAST(0 AS BIGINT))) DIV 100")
            .as("r_micro"))
    }
    // materialize the node-bounded result while the loop's pins are
    // alive, then release them (the dedupClusters persist discipline)
    val out = ranks.persist()
    out.count()
    edges.unpersist()
    deg.unpersist()
    Par.releaseLocalCheckpoint(p) // GC-independent release (r21 ADVICE)
    out
  }

  /** Edge sources. The two pair kernels emit IDENTICAL ≥ 0.8 pairs at
    * the gate parameters (every such pair shares a band —
    * [[Dedup.dedupClustersLsh]]), so both rank paths share the
    * exact-pair oracle; which one to pay is a cost decision, measured
    * both ways on the 1/10/100× arm (BENCH_NOTES round 18):
    *  - the df-capped EXACT kernel is ~5× cheaper in wall (x10: 6.0 s
    *    vs 33 s — the LSH path pays the 128-perm signature pass) but
    *    its pair-generation shuffle carries the capped Σ df² bend
    *    (top-slope 1.21) — the KERNEL gate row uses it;
    *  - the LSH kernel's shuffle is measured-linear — the STANDING
    *    [[rankMap]] artifact (built once per corpus fingerprint,
    *    exactly like [[Dedup.clusterMapLsh]], and amortized across
    *    every consumer read) uses it, so the once-per-ingest build is
    *    the path whose shuffle survives the 100 TB corpus. */
  private def exactPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Dedup.dedupNgramJaccardCapped(s, d, Dedup.CcDfCap).select($"a_id", $"b_id")
  }
  private def lshPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Dedup.minhashLshPairs(s, d).select($"a_id", $"b_id")
  }

  /** Gate row: top-[[PrTopK]] most central documents of the near-dup
    * similarity graph (K-bounded ranking over the materialized node
    * frame — never a corpus-sized sort). */
  def graphPagerank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ranks = pagerankOn(exactPairs(s, d), PrIters)
    // pin the K-bounded result, release the O(nodes) rank cache — the
    // session keeps <= PrTopK cached rows, not the node frame
    val out = ranks.orderBy($"r_micro".desc, $"doc_id").limit(PrTopK).persist()
    out.count()
    ranks.unpersist()
    out
  }

  /** The STANDING rank frame — committed once through the [[Models]]
    * train-once store keyed on the corpus fingerprint (the
    * [[Dedup.clusterMap]] discipline), built over the measured-linear
    * LSH pair path: survivor selection consumes the artifact, never
    * re-paying the pair kernel + iterations; the KERNEL row
    * `graph_pagerank` deliberately does NOT use this cache — it
    * measures the kernel itself. */
  private[graft] def rankMap(s: SparkSession, d: String): DataFrame = {
    val dir = Models.root(s"pagerank|$d|iters=$PrIters|${Dedup.LshParamsKey}" +
        s"|in=${Models.inputFingerprint(s"$d/documents.parquet")}") { out =>
      val r = pagerankOn(lshPairs(s, d), PrIters)
      r.write.mode("overwrite").parquet(out)
      r.unpersist() // the committed artifact is the cache from here on
    }
    s.read.parquet(dir)
  }

  /** Centrality-based survivor selection — the graph-importance
    * alternative to [[Dedup.dedupKeepCanonical]]'s longest-text
    * heuristic: within each near-dup component, the member with the
    * highest PageRank is the most CENTRAL version of the neighborhood
    * (web-corpus canonical-page selection), ties to the smallest
    * doc_id. Reads BOTH standing artifacts (cluster map + rank frame);
    * their domains are the same vertex set by construction (both derive
    * from the near-dup pair kernel; the two kernels produce identical
    * pairs at the gate parameters, see [[Dedup.dedupClustersLsh]]).
    *
    * Scale shape: one equi-join of two O(clustered nodes) standing
    * frames plus one per-cluster window ranking — all keys bounded by
    * the duplicate mass, never the corpus. */
  def dedupKeepCentral(s: SparkSession, d: String): DataFrame =
    dedupKeepCentralRanked(Dedup.clusterMap(s, d), rankMap(s, d))

  /** Survivor selection over a precomputed cluster map and pair list
    * (the [[Dedup.dedupKeepCanonical]] overload pattern). */
  private[graft] def dedupKeepCentralOn(clusterMap: DataFrame, pairs: DataFrame): DataFrame =
    dedupKeepCentralRanked(clusterMap, pagerankOn(pairs, PrIters))

  private def dedupKeepCentralRanked(clusterMap: DataFrame, ranks: DataFrame): DataFrame = {
    val s = clusterMap.sparkSession
    import s.implicits._
    val clusters = clusterMap.select($"doc_id", $"cluster_id", $"cluster_size")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster_id").orderBy($"r_micro".desc, $"doc_id")
    clusters.join(ranks.select($"doc_id", $"r_micro"), Seq("doc_id"))
      .withColumn("keep", row_number().over(w) === 1)
      .select($"doc_id", $"cluster_id", $"cluster_size", $"r_micro", $"keep")
      .orderBy($"doc_id")
  }

  /** One unrolled iteration of the integer recurrence (the Spark loop
    * body, spelled in SQL). `e(s, t)` is [[Dedup.CcCteSql]]'s symmetric
    * edge CTE — the SAME pair semantics the Spark side consumes. */
  private def iterCte(k: Int): String =
    s"""r$k AS (
       |  SELECT dg.src AS doc_id, dg.deg,
       |    CAST($BaseMicro + ($DampPct * COALESCE(sm.in_micro, 0)) // 100 AS BIGINT) AS r_micro
       |  FROM deg dg LEFT JOIN (
       |    SELECT e.t AS doc_id, SUM(r.r_micro // r.deg) AS in_micro
       |    FROM e JOIN r${k - 1} r ON e.s = r.doc_id GROUP BY e.t
       |  ) sm ON dg.src = sm.doc_id
       |)""".stripMargin

  val graphPagerankSql: String =
    s"""WITH RECURSIVE ${Dedup.CcCteSql},
       |deg AS (SELECT s AS src, COUNT(*) AS deg FROM e GROUP BY s),
       |r0 AS (SELECT src AS doc_id, deg, CAST(1000000 AS BIGINT) AS r_micro FROM deg),
       |${(1 to PrIters).map(iterCte).mkString(",\n")}
       |SELECT doc_id, deg, r_micro FROM r$PrIters
       |ORDER BY r_micro DESC, doc_id LIMIT $PrTopK""".stripMargin

  /** Oracle for [[dedupKeepCentral]]: the shared CC closure (`lab`) for
    * components joined against the unrolled integer-rank CTEs. */
  val dedupKeepCentralSql: String =
    s"""WITH RECURSIVE ${Dedup.CcCteSql},
       |deg AS (SELECT s AS src, COUNT(*) AS deg FROM e GROUP BY s),
       |r0 AS (SELECT src AS doc_id, deg, CAST(1000000 AS BIGINT) AS r_micro FROM deg),
       |${(1 to PrIters).map(iterCte).mkString(",\n")},
       |cc AS (
       |  SELECT doc_id, cluster_id,
       |    COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |  FROM lab
       |)
       |SELECT c.doc_id, c.cluster_id, c.cluster_size, r.r_micro,
       |  (ROW_NUMBER() OVER (PARTITION BY c.cluster_id
       |     ORDER BY r.r_micro DESC, c.doc_id) = 1) AS keep
       |FROM cc c JOIN r$PrIters r ON c.doc_id = r.doc_id
       |ORDER BY c.doc_id""".stripMargin

  val rows: Seq[QueryDef] = Seq(
    QueryDef("graph_pagerank", graphPagerank _, graphPagerankSql),
    QueryDef("dedup_keep_central", dedupKeepCentral _, dedupKeepCentralSql),
  )
}

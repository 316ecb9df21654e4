package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Clustering, Curation, Curation2, Curation3, Curation4, Curation5, Curation6, Curation7, Dedup, Dedup2, Graph, Multimodal, PipelineOps, Sampling, Similarity, Sketches, TextAnalysis}
import graft.queries.{Layout, Relational, Relational2, Relational3, Streaming, Streaming2, Streaming3, Streaming4}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every operator module's entries; each key has a
  * matching DuckDB oracle in `oracleSql` unless the operator is not
  * SQL-expressible (then the driver records a rows-only check).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q03TopRevenue(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = mergeUnique(
    Relational.queries, Relational2.queries,
    Streaming.queries, Streaming2.queries, Streaming3.queries, Streaming4.queries,
    Dedup.queries, Similarity.queries, TextAnalysis.queries,
    Multimodal.queries, PipelineOps.queries, Clustering.queries,
    Curation.queries, Dedup2.queries, Curation2.queries,
    Curation3.queries, Curation4.queries, Curation5.queries,
    Curation6.queries, Curation7.queries, Sampling.queries,
    Sketches.queries, Layout.queries, Relational3.queries, Graph.queries)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    *
    * Two rows are intentionally and permanently `no_oracle`:
    * `q42_approx_sketches` (HLL registers) and `q51_approx_quantiles`
    * (Greenwald-Khanna summary) — sketch output differs engine-to-engine
    * by design, so no DuckDB SQL can hash-match them. Each is instead
    * accuracy-gated by a companion query that IS hash-green
    * (`q42_sketch_bound`, `q51_quantile_bound`: the sketch estimate
    * joined against the exact answer with the error bound asserted in
    * SQL). A `no_oracle` on those two rows is the expected verdict, not
    * a gap. */
  def oracleSql: Map[String, String] = mergeUnique(
    Relational.oracles, Relational2.oracles,
    Streaming.oracles, Streaming2.oracles, Streaming3.oracles, Streaming4.oracles,
    Dedup.oracles, Similarity.oracles, TextAnalysis.oracles,
    Multimodal.oracles, PipelineOps.oracles, Clustering.oracles,
    Curation.oracles, Dedup2.oracles, Curation2.oracles,
    Curation3.oracles, Curation4.oracles, Curation5.oracles,
    Curation6.oracles, Curation7.oracles, Sampling.oracles,
    Sketches.oracles, Layout.oracles, Relational3.oracles, Graph.oracles)

  /** Union of the per-module maps. `++` would silently keep the later of
    * two entries under one name, so a name defined twice is an error that
    * lists every such name. */
  private[graft] def mergeUnique[V](parts: Map[String, V]*): Map[String, V] = {
    val dups = parts.flatMap(_.keys).groupBy(identity).collect { case (k, ks) if ks.size > 1 => k }
    require(dups.isEmpty, s"names defined more than once: ${dups.toSeq.sorted.mkString(", ")}")
    parts.reduce(_ ++ _)
  }
}

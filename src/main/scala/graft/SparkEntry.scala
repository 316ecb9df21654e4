package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Clustering, Curation, Curation2, Curation3, Curation4, Curation5, Curation6, Curation7, Dedup, Dedup2, Graph, Multimodal, PipelineOps, Sampling, Similarity, Sketches, TextAnalysis}
import graft.queries.{Layout, Relational, Relational2, Relational3, Streaming, Streaming2, Streaming3, Streaming4}

/** Driver contract (SURVEY.md §7).
  *
  * The inventory is built once from every module's `rows` ([[QueryDef]]):
  * each row names its Spark frame and its DuckDB oracle together, so a
  * row cannot lose its oracle by omission. A name declared twice, in two
  * modules or in one, fails the build of the inventory.
  *
  * Two rows are intentionally and permanently `noOracle`:
  * `q42_approx_sketches` (HLL registers) and `q51_approx_quantiles`
  * (Greenwald-Khanna summary) — sketch output differs engine-to-engine
  * by design, so no DuckDB SQL can hash-match them. Each is instead
  * accuracy-gated by the companion row its `boundBy` names, which IS
  * hash-green (`q42_sketch_bound`, `q51_quantile_bound`: the sketch
  * estimate joined against the exact answer with the error bound asserted
  * in SQL). The driver records a rows-only check for them.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q03TopRevenue(spark, "/root/testdata/sf0.001")

  /** Every inventory row by name. */
  lazy val registry: Map[String, QueryDef] = registryOf(
    Relational.rows, Relational2.rows, Relational3.rows, Layout.rows,
    Streaming.rows, Streaming2.rows, Streaming3.rows, Streaming4.rows,
    Dedup.rows, Dedup2.rows, Similarity.rows, TextAnalysis.rows,
    Multimodal.rows, PipelineOps.rows, Clustering.rows, Sampling.rows,
    Sketches.rows, Graph.rows, Curation.rows, Curation2.rows, Curation3.rows,
    Curation4.rows, Curation5.rows, Curation6.rows, Curation7.rows)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.transform((_, d) => d.run)

  /** For each row with an oracle, equivalent ANSI SQL runnable by DuckDB
    * on the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    registry.collect { case (name, QueryDef(_, _, QueryDef.Sql(sql))) => name -> sql }

  /** The runners of `names`, in the order given, looked up in the
    * inventory plus `extra`; fails naming every unknown name. */
  def lookup(names: Seq[String], extra: Map[String, QueryDef.Run] = Map.empty)
      : Seq[(String, QueryDef.Run)] = {
    val known = queries ++ extra
    val unknown = names.filterNot(known.contains).distinct.sorted
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}; " +
      s"known: ${known.keys.toSeq.sorted.mkString(", ")}")
    names.map(n => n -> known(n))
  }

  /** The rows of all modules by name. `toMap` would silently keep the
    * later of two rows under one name, so a name declared twice is an
    * error that lists every such name. */
  private[graft] def registryOf(modules: Seq[QueryDef]*): Map[String, QueryDef] = {
    val rows = modules.flatten
    val dups = rows.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"names defined more than once: ${dups.toSeq.sorted.mkString(", ")}")
    rows.map(d => d.name -> d).toMap
  }
}

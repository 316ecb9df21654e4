package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One inventory row: its name, the Spark frame it builds over a fixture
  * dir, and its DuckDB oracle. Every operator and query module declares
  * its rows as one `rows: Seq[QueryDef]`; [[SparkEntry]] joins them. */
final case class QueryDef(name: String, run: QueryDef.Run, oracle: QueryDef.Oracle)

object QueryDef {
  type Run = (SparkSession, String) => DataFrame

  sealed trait Oracle
  /** ANSI SQL DuckDB runs on the same parquet tables; its result must
    * hash-match the row's. */
  final case class Sql(text: String) extends Oracle
  /** No SQL can hash-match the row (its output differs engine to engine
    * by design); the row `boundBy`, which has SQL, gates its accuracy. */
  final case class NoOracle(boundBy: String) extends Oracle

  def apply(name: String, run: Run, sql: String): QueryDef = QueryDef(name, run, Sql(sql))

  def noOracle(boundBy: String): Oracle = NoOracle(boundBy)
}
